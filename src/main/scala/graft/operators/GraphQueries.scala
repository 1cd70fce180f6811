package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.QueryModule
import graft.Barrier._
import graft.sources.Tables

/** Batch graph analytics over a graph DERIVED from the event stream —
  * the click-stream item-transition graph: within each user's timeline,
  * consecutive events form a directed src→dst edge between the items
  * they touched (`props.k`). Corpus pipelines use exactly this shape for
  * link-graph centrality weighting (Common Crawl ranks hosts by
  * centrality to weight crawl/corpus inclusion — Nagel et al.'s public
  * cc-pagerank releases).
  *
  * PageRank here is the POWER-ITERATION join shape, the second
  * iterative-join pattern the engine proves (q64's connected components
  * is label propagation; this is rank flow):
  *
  *   ranks ⋈ edges (shuffle on src) → contributions, agg by dst
  *   (shuffle on dst) → new ranks, plus a one-row dangling-mass frame
  *   crossed in by broadcast.
  *
  * Per iteration that is two shuffles of the EDGE frame and zero driver
  * round-trips; at 100 TB the edge frame would be pre-partitioned on src
  * once (bucketing) so the per-iteration ranks⋈edges co-locates. Past
  * CheckpointAbove iterations, pagerankWith truncates lineage per round
  * via localCheckpoint (edge/degree/node frames once up front, ranks
  * each round — the q158/q216 posture). A fixed iteration count (3)
  * keeps the shipped query a finite, oracle-replayable plan — the
  * convergence loop of a production run just repeats the same stage. */
object GraphQueries extends QueryModule {

  private val Damping = 0.85
  private val Iters = 3

  /** Iteration count above which PageRank truncates rank lineage per
    * round via localCheckpoint (q158/q216/q219/q220's posture). At the
    * shipped Iters=3 the plan stays one finite lazy tree — exactly
    * oracle-replayable in a single expression; a convergence-length
    * run (tens of rounds) would otherwise chain every iteration into a
    * plan Catalyst re-optimizes and recomputes from the scan each
    * round. GraphSpec pins lazy ≡ checkpointed on the shipped graph. */
  private val CheckpointAbove = 3

  /** (src, dst) raw transition edges (one row per transition) — the
    * events scan + per-user lag window. NOT cached: consumed once per
    * session by [[weightedEdges]]. */
  private def rawEdges(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val byUser = Window.partitionBy($"user_id")
      .orderBy($"ts", $"event_id")
    Tables.events(s, dir)
      .select($"user_id", $"ts", $"event_id",
        get_json_object($"props", "$.k").cast("long").as("item"))
      .withColumn("src", lag($"item", 1).over(byUser))
      .filter($"src".isNotNull && $"src" =!= $"item")
      .select($"src", $"item".as("dst"))
  }

  /** (src, dst, c) directed transition counts — the multigraph rolled
    * up to one row per ordered pair, staged per (session, dir).
    * Round-16 staged the raw (src, dst) multigraph here — one row per
    * transition, the corpus-scale frame — and its MEMORY_AND_DISK
    * residency under the family's other staged frames is what thrashed
    * q92's iteration loop (round-16 verdict #3: 15 s cold / 34.6 s warm
    * with a warm>cold inversion). Round-17 observation: NO consumer
    * ever reads the raw frame except through an aggregate — every
    * query starts from either the directed (src, dst, count) frame or
    * its undirected rollup — so the session stage is now the weighted
    * frame (bounded by |distinct item pairs|, orders of magnitude
    * smaller than the transition stream) and the raw window derivation
    * runs exactly once per session to build it. */
  private def weightedEdges(s: SparkSession, dir: String): DataFrame =
    SessionCache.get(s, "weighted_edges", dir) {
      import s.implicits._
      rawEdges(s, dir).groupBy($"src", $"dst")
        .agg(count(lit(1)).as("c"))
    }

  /** (a, b, c) canonical undirected pair counts (a < b, c sums both
    * directions) — staged per (session, dir): eight graph queries each
    * re-aggregated exactly this frame from the raw edges (q144 at
    * support 1; q158/q220/q292/q326/q340 at MinEdgeWeight; q216 at
    * CoreSupport; q219/q353 at LpaSupport). One shared rollup +
    * per-consumer filters replaces eight corpus-scale groupBy
    * shuffles per session (guide §2.4). */
  private def undWeighted(s: SparkSession, dir: String): DataFrame =
    SessionCache.get(s, "undirected_edges", dir) {
      import s.implicits._
      weightedEdges(s, dir)
        .groupBy(least($"src", $"dst").as("a"),
          greatest($"src", $"dst").as("b"))
        .agg(sum($"c").as("c"))
    }

  /** Shipped form ALWAYS truncates rank lineage per round (the qHits
    * posture, round-17): each iteration consumes the rank frame TWICE
    * (contribution join + dangling mass), so the lazy 3-iteration plan
    * compounds 2³-fold — 348 nodes / 160 Exchanges over tiny RDD
    * leaves, ~5 000 scheduled tasks of pure overhead at 32 partitions.
    * Truncated, each round is one bounded join+agg stage over three
    * checkpointed leaves. GraphSpec pins lazy ≡ truncated. */
  def qPagerank(s: SparkSession, dir: String): DataFrame =
    pagerankWith(s, dir, Iters, Some(true))

  /** The parameterized body: `truncateLineage` defaults from the
    * iteration count ([[CheckpointAbove]]); GraphSpec forces it on to
    * pin result equality with the lazy path. When truncating, the
    * loop-invariant edge/degree/node frames checkpoint ONCE up front
    * (they are otherwise re-derived from the events scan every
    * iteration) and the rank frame checkpoints per round. */
  private[graft] def pagerankWith(s: SparkSession, dir: String,
      iters: Int, truncateLineage: Option[Boolean] = None): DataFrame = {
    import s.implicits._
    val truncate = truncateLineage.getOrElse(iters > CheckpointAbove)
    // multigraph weights: repeated transitions carry more rank.
    // The loop-invariant edge/degree/node frames checkpoint ONCE up
    // front UNCONDITIONALLY (round-16 verdict #3): left lazy, the
    // 3-iteration plan re-read the staged edge InMemoryRelation in
    // every iteration's two joins (344 Exchanges, 709 plan nodes) and
    // at 32 cores the re-reads thrashed against the family's other
    // resident frames — 21.4 s cold / 25.4 s warm, a physically
    // impossible inversion for a cache-live re-run. Checkpointed,
    // the iteration body reads three bounded LogicalRDD leaves and
    // never touches the block-manager-resident stage. `truncate`
    // still controls the per-round rank barrier only.
    val we = weightedEdges(s, dir)
      .select($"src", $"dst", $"c".cast("double").as("w"))
      .roundBarrier()
    val odeg = we.groupBy($"src").agg(sum($"w").as("odeg"))
      .roundBarrier()
    val nodes = we.select($"src".as("node"))
      .union(we.select($"dst".as("node"))).distinct()
      .roundBarrier()
    val nTot = nodes.agg(count(lit(1)).cast("double").as("n"))
    var ranks = nodes.crossJoin(broadcast(nTot))
      .select($"node", (lit(1.0) / $"n").as("rank"))
    for (_ <- 1 to iters) {
      val contrib = ranks
        .join(we, ranks("node") === we("src"))
        .join(odeg, "src")
        .select($"dst".as("node"), ($"rank" * $"w" / $"odeg").as("c"))
      val inSum = contrib.groupBy($"node").agg(sum($"c").as("in_sum"))
      // dangling nodes (no out-edges) spread their rank uniformly —
      // without this the total rank mass leaks every iteration
      val dangling = ranks
        .join(odeg, ranks("node") === odeg("src"), "left_anti")
        .agg(coalesce(sum($"rank"), lit(0.0)).as("dm"))
      ranks = nodes.crossJoin(broadcast(nTot))
        .join(inSum, Seq("node"), "left")
        .crossJoin(broadcast(dangling))
        .select($"node",
          ((lit(1.0) - Damping) / $"n" +
            lit(Damping) * (coalesce($"in_sum", lit(0.0)) + $"dm" / $"n"))
            .as("rank"))
      if (truncate) ranks = ranks.roundBarrier()
    }
    ranks.select($"node", round($"rank", 4).as("rank")).orderBy($"node")
  }

  /** Triangle count + global clustering coefficient (q144) over the
    * undirected item-transition graph — the third classic iterative/
    * combinatorial graph shape after q64's connected components and
    * q92's rank flow, and the standard link-graph health number next to
    * centrality (a crawl graph whose clustering coefficient collapses
    * is farm/spam-shaped). Algorithm: degree orientation (Suri &
    * Vassilvitskii, "Counting triangles and the curse of the last
    * reducer", WWW 2011) — each undirected edge is stored ONCE, oriented
    * from its lower-(degree, id) endpoint to the higher; wedges are
    * generated only at each edge's LOWER endpoint, whose out-degree is
    * bounded by O(√m) under this orientation, so wedge volume is O(m^1.5)
    * TOTAL and no hot hub ever materializes its full neighbor square (the
    * "last reducer" a naive id-orientation dies on: a degree-10⁷ hub is
    * 10¹⁴ id-ordered wedges but only ~m^0.5-bounded oriented ones).
    * Wedge closure is one equi-join back against the oriented edge list.
    * The oracle counts the SAME triangles via the id-ordered a<b<c form —
    * orientation changes the join cost, never the triangle set. */
  def qTriangles(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    triangleStats(undWeighted(s, dir).select($"a", $"b"))
  }

  /** Degree-oriented triangle statistics over canonical undirected
    * edges (a < b, deduplicated). Split from qTriangles so GraphSpec
    * can pin the count on crafted fixture graphs. */
  private[graft] def triangleStats(und: DataFrame): DataFrame = {
    import und.sparkSession.implicits._
    val deg = und.select($"a".as("node"))
      .unionAll(und.select($"b".as("node")))
      .groupBy($"node").agg(count(lit(1)).as("d"))
    // orient a→b when (deg, id) of a < (deg, id) of b; ties broken by id
    val withDeg = und
      .join(deg.select($"node".as("a"), $"d".as("da")), "a")
      .join(deg.select($"node".as("b"), $"d".as("db")), "b")
    val oriented = withDeg.select(
      when($"da" < $"db" || ($"da" === $"db" && $"a" < $"b"), struct($"a", $"b", $"da", $"db"))
        .otherwise(struct($"b".as("a"), $"a".as("b"), $"db".as("da"), $"da".as("db")))
        .as("e"))
      .select($"e.a".as("u"), $"e.b".as("v"), $"e.da".as("du"), $"e.db".as("dv"))
      // barriered once (round-17): three consumers (both wedge sides +
      // the closure probe) each re-ran the two degree joins otherwise
      .roundBarrier()
    // wedges at the lower endpoint u: pick the (v, w) pair ordered by the
    // same (deg, id) key so the closing edge is probed in ITS canonical
    // orientation
    val x = oriented.select($"u", $"v".as("xv"), $"dv".as("dxv"))
    val y = oriented.select($"u", $"v".as("yv"), $"dv".as("dyv"))
    val wedges = x.join(y, "u")
      .filter($"dxv" < $"dyv" || ($"dxv" === $"dyv" && $"xv" < $"yv"))
      .select($"xv".as("wa"), $"yv".as("wb"))
    val tris = wedges.join(
        oriented.select($"u".as("wa"), $"v".as("wb")), Seq("wa", "wb"))
      .agg(count(lit(1)).as("n_triangles"))
    // `div` (integer division; d·(d−1) is even so it's exact) keeps the
    // wedge total a BIGINT on both engines — Column./ would widen to
    // double and the driver hash compares "123" vs "123.0" as different
    val wedgeTotal = deg.agg(
      sum(expr("d * (d - 1) div 2")).as("n_wedges"),
      count(lit(1)).as("n_nodes"))
    val edgeTotal = und.agg(count(lit(1)).as("n_edges"))
    wedgeTotal.crossJoin(broadcast(edgeTotal)).crossJoin(broadcast(tris))
      .select($"n_nodes", $"n_edges", $"n_wedges", $"n_triangles",
        round(lit(3.0) * $"n_triangles" / $"n_wedges", 4).as("clustering"))
  }

  /** Minimum repeat count for a transition to be a graph edge in q158:
    * single-occurrence transitions are click noise; repeated ones are
    * structure. Also what keeps the CC demo non-trivial — the raw
    * transition graph is near-complete at every SF. */
  private val MinEdgeWeight = 2

  /** Connected components via alternating large-star/small-star edge
    * contraction (q158) — Kiveris et al. 2014, "Connected Components in
    * MapReduce and Beyond". The fourth graph shape in the suite, and the
    * SCALE upgrade over q64's label propagation: min-label propagation
    * needs O(diameter) rounds (a 100 TB web/link graph has long chains —
    * hundreds of rounds), star contraction provably converges in
    * O(log² n) rounds regardless of diameter, each round two shuffles of
    * the CURRENT edge frame (which only shrinks — large-star points
    * every edge at a local minimum, small-star contracts the chains it
    * leaves). Used for exactly q64's job — resolving transitive dup
    * clusters — when the pair graph stops fitting label propagation.
    *
    * Driver traffic per round is two metadata-scale counts (the
    * fixpoint check); lineage is truncated per round via localCheckpoint
    * exactly like q64. The oracle recomputes true components as
    * min-reachable-id with a recursive CTE — the algorithms must agree
    * on the SET, which is what makes an algorithm-vs-spec oracle (same
    * discipline as q144's naive-join triangle oracle). */
  def qConnectedStars(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    ccLabels(s, dir).orderBy($"node")
  }

  /** The (node, comp) label frame of q158's support-filtered graph,
    * a durable stage (round-16 optimization, the verified_pairs
    * discipline): q158 emits it and q175's histogram is a derived
    * read — each used to re-run the full star-contraction convergence
    * loop (~3 barriered rounds + fixpoint checks) independently, and
    * any fresh session re-paid it again. Bump the version on any
    * change to starComponents, the edge derivation, or MinEdgeWeight. */
  private def ccLabels(s: SparkSession, dir: String): DataFrame =
    DurableStage.get(s, "cc_labels", 2,
      Seq(s"$dir/events.parquet"),
      salt = s"minw=$MinEdgeWeight;star-contraction") {
      import s.implicits._
      starComponents(undWeighted(s, dir)
        .filter($"c" >= MinEdgeWeight).select($"a", $"b"))
    }

  /** Star-contraction CC over canonical undirected edges (a < b,
    * distinct). Split out so GraphSpec can pin multi-component fixtures. */
  private[graft] def starComponents(und: DataFrame): DataFrame = {
    import und.sparkSession.implicits._
    val nodes = und.select($"a".as("node"))
      .union(und.select($"b".as("node"))).distinct()
      .roundBarrier()
    // invariant: e holds canonical (u < v) distinct edges
    var e = und.select($"a".as("u"), $"b".as("v")).distinct()
      .roundBarrier()
    var eCount = e.count()
    var converged = false
    var guard = 0
    while (!converged && guard < 25) {
      // LARGE-STAR: every undirected edge, viewed from its smaller
      // endpoint u, re-points its larger endpoint v at m(u) =
      // min(N(u) ∪ {u}) — one groupBy(u) + one join, both on the
      // shrinking edge frame
      val sym = e.union(e.select($"v".as("u"), $"u".as("v")))
      val m1 = sym.groupBy($"u").agg(min($"v").as("mn"))
        .select($"u", least($"u", $"mn").as("m"))
      val ls = sym.join(m1, "u").filter($"v" > $"u")
        .filter($"m" =!= $"v")
        .select($"m".as("u"), $"v").distinct()
      // SMALL-STAR: every edge, viewed from its LARGER endpoint,
      // re-points all its smaller neighbors (and itself) at their min
      val dir2 = ls.select($"v".as("u"), $"u".as("v")) // now v < u
      val m2 = dir2.groupBy($"u").agg(min($"v").as("m"))
      val ss = dir2.join(m2, "u").filter($"v" =!= $"m")
        .select($"m".as("u"), $"v")
        .union(m2.select($"m".as("u"), $"u".as("v")))
        .distinct()
        .roundBarrier()
      // fixpoint: both frames are distinct canonical sets, so equal
      // counts + empty one-way difference ⇒ equal sets
      val ssCount = ss.count()
      converged = ssCount == eCount &&
        ss.except(e).limit(1).count() == 0
      e = ss
      eCount = ssCount
      guard += 1
    }
    // converged edge set is a union of min-rooted stars (u = comp min)
    nodes.join(e.select($"v".as("node"), $"u".as("comp")), Seq("node"), "left")
      .select($"node", coalesce($"comp", $"node").as("comp"))
      .orderBy($"node")
  }

  /** Component-size histogram (q175): how many components of each
    * size, plus each size class' share of all nodes — the one-glance
    * fragmentation read on q158's components (a dedup-cluster graph
    * whose giant component holds 90% of nodes means the pair
    * threshold is too loose; all-singletons means it's too tight).
    * Two metadata-scale aggregates on the component labels. */
  def qComponentSizes(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val sizes = ccLabels(s, dir)
      .groupBy($"comp").agg(count(lit(1)).as("size"))
    val tot = sizes.agg(sum($"size").as("n_nodes"))
    sizes.groupBy($"size").agg(count(lit(1)).as("n_components"))
      .crossJoin(broadcast(tot))
      .select($"size", $"n_components",
        round($"size" * $"n_components" / $"n_nodes".cast("double"), 4)
          .as("node_share"))
      .orderBy($"size".desc)
  }

  /** Fan-out cap for q176: a user touching more than this many items
    * contributes C(deg, 2) pairs — one bot account with 10⁴ items is
    * 5·10⁷ pairs, the classic bipartite-projection skew bomb. Capped
    * users are dropped whole (documented recall trade, same posture as
    * q31's MaxBlock); production would sample their edges instead. */
  private val MaxUserDeg = 50

  /** Co-engagement projection (q176): project the user→item bipartite
    * graph onto items — (item_a, item_b, shared-user count), top-30 —
    * the construction behind co-occurrence recommenders and
    * item-similarity features. One distinct pass, a degree filter, one
    * self-join keyed on user (shuffle on user_id), pair counts by
    * partial agg; the top-30 rank window heap-rewrites. */
  def qCoengagement(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ui = Tables.events(s, dir)
      .select($"user_id",
        get_json_object($"props", "$.k").cast("long").as("item"))
      .filter($"item".isNotNull)
      .distinct()
    val ok = ui.groupBy($"user_id").agg(count(lit(1)).as("deg"))
      .filter($"deg" <= MaxUserDeg).select($"user_id")
    val capped = ui.join(ok, "user_id")
    val pairs = capped.select($"user_id", $"item".as("a"))
      .join(capped.select($"user_id", $"item".as("b")), Seq("user_id"))
      .filter($"a" < $"b")
      .groupBy($"a", $"b").agg(count(lit(1)).as("n_users"))
    pairs.withColumn("rk", row_number().over(
        Window.orderBy($"n_users".desc, $"a".asc, $"b".asc)))
      .filter($"rk" <= 30)
      .select($"rk", $"a", $"b", $"n_users")
      .orderBy($"rk")
  }

  /** q216's core order and peel budget. Peeling only shrinks the alive
    * set, so equal consecutive COUNTS ⇒ equal sets (monotonicity) —
    * the converged flag needs no set comparison. Six fixed iterations
    * mirror the oracle's unrolled CTEs exactly (the q92 discipline:
    * same iteration count on both engines, convergence reported, never
    * assumed). */
  private val CoreK = 22
  private val CoreIters = 6
  /** Same denoising support filter as q158's MinEdgeWeight family —
    * the RAW transition graph is near-complete at every SF (min degree
    * 74 of 100 at sf0.01), where any interesting k is either vacuous
    * or total collapse; the support-filtered graph has real density
    * structure for the peel to find. */
  private val CoreSupport = 3

  /** k-core decomposition (q216, k=3): iteratively peel nodes of
    * degree < k until the k-core remains (Seidman 1983; Batagelj &
    * Zaveršnik 2003) — the densest-region extractor behind community
    * seeding and graph-robustness reads, and the fourth classic graph
    * shape next to rank flow (q92), triangles (q144) and CC (q64/
    * q158). Each peel is two semi-join-shaped memberships + one
    * partial-agg degree count over a MONOTONICALLY SHRINKING edge
    * frame — the q158 cost argument; six fixed rounds chain lazily
    * like q92's iterations. Output: every original node with its
    * core membership, its degree INSIDE the surviving core, and the
    * converged verdict (alive-count fixpoint). */
  def qKCore(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val und = undWeighted(s, dir)
      .filter($"c" >= CoreSupport)
      .select($"a", $"b")
      .roundBarrier() // reused by 6 peels + the final degree pass
    val nodes0 = und.select($"a".as("node"))
      .unionAll(und.select($"b".as("node"))).distinct()
    def coreDeg(alive: DataFrame): DataFrame =
      und.join(alive.select($"node".as("a")), "a")
        .join(alive.select($"node".as("b")), "b")
        .select(explode(array($"a", $"b")).as("node"))
        .groupBy($"node").agg(count(lit(1)).as("d"))
    var alive = nodes0
    var prev = nodes0
    for (_ <- 1 to CoreIters) {
      prev = alive
      // localCheckpoint per peel: without it the 6 rounds chain into a
      // lazily nested plan that re-derives `und` at every level — the
      // q64/q158 lineage-truncation discipline (measured 44 s → ~1 s
      // at sf0.1); the checkpointed frame is |alive nodes| rows
      alive = coreDeg(alive).filter($"d" >= CoreK).select($"node")
        .roundBarrier()
    }
    val converged = prev.agg(count(lit(1)).as("c_prev"))
      .crossJoin(alive.agg(count(lit(1)).as("c_last")))
      .select(($"c_prev" === $"c_last").as("converged"))
    val finalDeg = coreDeg(alive)
    nodes0
      .join(alive.withColumn("in_core", lit(true)), Seq("node"), "left")
      .join(finalDeg, Seq("node"), "left")
      .crossJoin(broadcast(converged))
      .select($"node", coalesce($"in_core", lit(false)).as("in_core"),
        $"d".as("core_deg"), $"converged")
      .orderBy($"node")
  }

  /** Degree distribution + power-law MLE (q214): item degrees in the
    * user→item bipartite graph (distinct users per item) with the
    * continuous-approximation maximum-likelihood exponent
    * α̂ = 1 + n / Σ ln(d / (d_min − ½)) (Clauset, Shalizi & Newman
    * 2009, eq. 3.7 with the ½ discreteness correction) — the
    * scale-free-or-not verdict that decides whether hub guards (q176's
    * degree cap, q31's MaxBlock) are load-bearing on this graph or
    * paranoia. Corpus → \|items\| degree rows in one distinct+agg;
    * the MLE is a closed-form fold over that frame (exact integer
    * degrees, one ln per item, sum on the 4-decimal grid). */
  def qDegreeMle(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val deg = Tables.events(s, dir)
      .select($"user_id",
        get_json_object($"props", "$.k").cast("long").as("item"))
      .filter($"item".isNotNull)
      .distinct()
      .groupBy($"item").agg(count(lit(1)).as("d"))
    val dmin = deg.agg(min($"d").as("d_min"))
    deg.crossJoin(broadcast(dmin))
      .groupBy($"d_min")
      .agg(count(lit(1)).as("n_items"), max($"d").as("d_max"),
        round(avg($"d"), 4).as("mean_deg"),
        sum(log($"d".cast("double") / ($"d_min" - 0.5))).as("lnsum"))
      .select($"n_items", $"d_min", $"d_max", $"mean_deg",
        round(lit(1.0) + $"n_items" / $"lnsum", 4).as("alpha_mle"))
  }

  /** LPA support filter: the raw transition graph is near-complete at
    * every SF (see q216's note), so propagation on it collapses to one
    * blob in a single round; ≥4 repeated transitions keeps only the
    * strong co-navigation edges, where community structure is real. */
  private val LpaSupport = 4
  private val LpaIters = 4

  /** Synchronous label-propagation communities (q219) — Raghavan,
    * Albert & Kumara 2007: every node simultaneously adopts the label
    * most frequent among its neighbors (ties broken by the SMALLEST
    * label, so the sweep is deterministic), seeded with its own id;
    * four fixed synchronous rounds, the bounded-iteration discipline
    * of q92/q216. This is the cheap community detector a corpus
    * pipeline runs where modularity methods (Louvain) don't
    * distribute: per round ONE join of the symmetric edge frame
    * against the |nodes|-row label frame + one (node, label) count
    * aggregate + one per-node argmax that the TopKWindowRule rewrites
    * to a bounded heap — no per-node neighbor array ever materializes,
    * so a hub's cost is its edge count, not its neighborhood square.
    * At 100 TB the edge frame buckets on u once and every round's join
    * co-locates. Differs from CC (q64/q158): LPA splits DENSE regions
    * apart where connectivity alone merges everything reachable.
    * Oracle: four unrolled CTE rounds replaying the same argmax. */
  def qLpaCommunities(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    lpaStaged(s, dir)
      .select($"node", $"lab".as("comm"),
        count(lit(1)).over(Window.partitionBy($"lab")).as("comm_size"))
      .orderBy($"node")
  }

  /** The (node, lab) LPA label frame of the support-filtered graph,
    * a durable stage (round-16 optimization): q219 emits it and q353's
    * modularity audit is a derived read — each used to re-run the
    * full 4-round LPA loop independently. Bump the version on any
    * change to lpaCore, the edge derivation, LpaSupport, or LpaIters. */
  private def lpaStaged(s: SparkSession, dir: String): DataFrame =
    DurableStage.get(s, "lpa_labels", 2,
      Seq(s"$dir/events.parquet"),
      salt = s"sup=$LpaSupport;iters=$LpaIters") {
      import s.implicits._
      lpaCore(undWeighted(s, dir)
        .filter($"c" >= LpaSupport).select($"a", $"b"))
    }

  /** LPA core over canonical (a < b) undirected edges; split out so
    * GraphSpec can pin community splits on crafted fixtures. Returns
    * the converged (node, lab) frame. */
  private[graft] def lpaCore(und: DataFrame): DataFrame = {
    import und.sparkSession.implicits._
    val sym = und.select($"a".as("u"), $"b".as("v"))
      .union(und.select($"b".as("u"), $"a".as("v")))
      .roundBarrier()
    val nodes = sym.select($"u".as("node")).distinct()
    var lbl = nodes.select($"node", $"node".as("lab"))
    for (_ <- 1 to LpaIters) {
      val nl = lbl.select($"node".as("v"), $"lab")
      val cnt = sym.join(nl, "v")
        .groupBy($"u", $"lab").agg(count(lit(1)).as("cnt"))
      val w = Window.partitionBy($"u").orderBy($"cnt".desc, $"lab".asc)
      lbl = cnt.withColumn("rk", row_number().over(w))
        .filter($"rk" === 1)
        .select($"u".as("node"), $"lab")
        .roundBarrier()
    }
    lbl
  }

  /** Original full LPA shape over any edge frame (spec entry point). */
  private[graft] def lpaLabels(und: DataFrame): DataFrame = {
    import und.sparkSession.implicits._
    lpaCore(und).select($"node", $"lab".as("comm"),
        count(lit(1)).over(Window.partitionBy($"lab")).as("comm_size"))
      .orderBy($"node")
  }

  /** Newman modularity of the q219 LPA partition (q353) — Newman &
    * Girvan 2004: Q = Σ_c [ L_c/m − (d_c/2m)² ] over the same
    * support-filtered undirected graph and the same 4-round LPA
    * labels; the quality score that tells a pipeline whether the
    * communities it just computed are structure or noise (Q ≈ 0 ⇒ no
    * better than random wiring given the degree sequence). The
    * LPA/Q pairing is deliberate: LPA itself never optimizes Q, so
    * this is an unbiased audit, not a circular one. Determinism at
    * any scale: Q reduces to (ΣL_c)/m − (Σd_c²)/(4m²) — BOTH numerators
    * are exact integer sums (Σd_c² in decimal(38,0) — a hub community's
    * d_c² can pass 2^63 long before the graph is large), so no float
    * ever accumulates across rows; one double expression at the end.
    * Cost over q219: one degree agg + one edge⋈labels join (twice,
    * on each endpoint — the a-side join reuses the LPA edge
    * partitioning). */
  def qModularity(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val und = undWeighted(s, dir)
      .filter($"c" >= LpaSupport)
      .select($"a", $"b")
      .roundBarrier()
    // round-16: the LPA partition arrives staged (lpaStaged — the same
    // labels q219 emits) instead of re-running the 4-round loop here.
    modularityWith(und, lpaStaged(s, dir)
      .select($"node", $"lab".as("comm")))
  }

  /** Modularity core over canonical (a < b) undirected edges; split
    * out so GraphSpec-style fixtures can pin Q on crafted graphs
    * (two disjoint triangles ⇒ Q = 1/2). */
  private[graft] def modularityOf(und: DataFrame): DataFrame = {
    import und.sparkSession.implicits._
    modularityWith(und, lpaLabels(und).select($"node", $"comm"))
  }

  /** Modularity given the (node, comm) partition explicitly. */
  private def modularityWith(und: DataFrame, lbl: DataFrame)
      : DataFrame = {
    import und.sparkSession.implicits._
    val deg = und.select($"a".as("node"))
      .union(und.select($"b".as("node")))
      .groupBy($"node").agg(count(lit(1)).as("d"))
    val dc = deg.join(lbl, "node")
      .groupBy($"comm").agg(sum($"d").as("dc"))
    val lc = und
      .join(lbl.select($"node".as("a"), $"comm".as("ca")), "a")
      .join(lbl.select($"node".as("b"), $"comm".as("cb")), "b")
      .filter($"ca" === $"cb")
      .groupBy($"ca".as("comm")).agg(count(lit(1)).as("lc"))
    val m = und.agg(count(lit(1)).as("m"))
    dc.join(lc, Seq("comm"), "left")
      .select($"comm", coalesce($"lc", lit(0L)).as("lc"), $"dc")
      .crossJoin(broadcast(m))
      .agg(count(lit(1)).as("n_comms"),
        first($"m").as("m_edges"),
        sum($"lc").as("intra"),
        sum(($"dc" * $"dc").cast("decimal(38,0)")).as("d2"))
      .select($"n_comms", $"m_edges",
        $"intra".as("intra_edges"),
        (round($"intra".cast("double") / when($"m_edges" > 0L,
            $"m_edges") -
          $"d2".cast("double") /
            (lit(4.0) * $"m_edges" * $"m_edges"), 4) + lit(0.0))
          .as("modularity"))
  }

  private val BfsIters = 4

  /** Multi-source BFS hop distance (q220) — the distance semiring over
    * the q158-filtered graph, the fourth propagation pattern next to
    * min-label (CC), rank flow (PageRank) and mode-label (LPA): hops
    * from the nearest of two seed nodes (the min and max node id —
    * data-derived, so the oracle replays them without literals), four
    * synchronous relaxation rounds; unreached nodes stay NULL with an
    * explicit reached flag. This is the trust/spam-seed propagation
    * shape (distance-to-seed features, blast-radius audits). Per round
    * ONE frontier⋈edges join + one min aggregate — both keyed on the
    * same node id, and the dist frame never exceeds |nodes| rows;
    * BFS via joins is exactly how a 1000-executor cluster runs it
    * (Pregel's message pattern), with lineage truncated per round.
    * Oracle: four unrolled min-fold CTE rounds. */
  def qBfsHops(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val und = undWeighted(s, dir)
      .filter($"c" >= MinEdgeWeight)
      .select($"a", $"b")
    bfsDistances(und)
  }

  /** BFS core over canonical undirected edges, seeded at the min and
    * max node id; split out so GraphSpec can pin hop counts. */
  private[graft] def bfsDistances(und: DataFrame): DataFrame = {
    import und.sparkSession.implicits._
    val sym = und.select($"a".as("u"), $"b".as("v"))
      .union(und.select($"b".as("u"), $"a".as("v")))
      .roundBarrier()
    val nodes = sym.select($"u".as("node")).distinct()
    val seeds = nodes.agg(min($"node").as("lo"), max($"node").as("hi"))
    var dist = nodes.crossJoin(broadcast(seeds))
      .filter($"node" === $"lo" || $"node" === $"hi")
      .select($"node", lit(0L).as("d"))
    for (_ <- 1 to BfsIters) {
      val ext = dist.join(sym, dist("node") === sym("u"))
        .select($"v".as("node"), ($"d" + 1).as("d"))
      dist = dist.union(ext)
        .groupBy($"node").agg(min($"d").as("d"))
        .roundBarrier()
    }
    nodes.join(dist, Seq("node"), "left")
      .select($"node", $"d".as("hops"), $"d".isNotNull.as("reached"))
      .orderBy($"node")
  }

  private val HitsIters = 3

  /** HITS hubs & authorities (q291) — Kleinberg 1999, the second
    * eigenvector-style centrality next to q92's PageRank, and the one
    * link-graph signal PageRank cannot give: a node can be a great
    * POINTER (hub) without being a great TARGET (authority). Corpus
    * pipelines use exactly this split on crawl graphs — directory/hub
    * pages are navigation boilerplate to down-weight, authority pages
    * are content to keep. Per half-step it is ONE ranks⋈edges join
    * (shuffle on the edge key) + one agg + an L1 normalization whose
    * sum frame is a broadcast scalar — the q92 shape exactly, so the
    * 100 TB posture carries over (edges pre-partitioned once, no
    * driver round-trips). Unlike q92 (2 consumptions of the rank frame
    * per round → 2³ lazy rebuilds, tolerable), HITS consumes each
    * state frame FOUR times per round (raw sum + L1 normalizer, twice
    * per half-step) — 4³ = 64 lazy rebuilds measured 16 s at sf0.001 —
    * so the shipped query ALWAYS truncates: edge/node frames
    * checkpoint once up front, auth/hub every half-step, every leaf a
    * LogicalRDD (Round10Spec's guard). The lazy path stays available
    * to the spec, which pins lazy ≡ truncated. */
  def qHits(s: SparkSession, dir: String): DataFrame =
    hitsWith(s, dir, HitsIters, Some(true))

  private[graft] def hitsWith(s: SparkSession, dir: String, iters: Int,
      truncateLineage: Option[Boolean] = None): DataFrame =
    hitsCore(weightedEdges(s, dir).select(col("src"), col("dst")),
      iters, truncateLineage)

  /** HITS core over distinct directed (src, dst) edges; split out so
    * the spec can pin hub/authority separation on crafted graphs. */
  private[graft] def hitsCore(edges: DataFrame, iters: Int,
      truncateLineage: Option[Boolean] = None): DataFrame = {
    val s = edges.sparkSession
    import s.implicits._
    val truncate = truncateLineage.getOrElse(iters > CheckpointAbove)
    var e = edges
    var nodes = e.select($"src".as("node"))
      .union(e.select($"dst".as("node"))).distinct()
    if (truncate) { e = e.roundBarrier(); nodes = nodes.roundBarrier() }
    var auth = nodes.select($"node", lit(1.0).as("a"))
    var hub = nodes.select($"node", lit(1.0).as("h"))
    for (_ <- 1 to iters) {
      val araw = e.join(hub.withColumnRenamed("node", "src"), "src")
        .groupBy($"dst".as("node")).agg(sum($"h").as("raw"))
      val at = araw.agg(sum($"raw").as("t"))
      auth = nodes.join(araw, Seq("node"), "left")
        .crossJoin(broadcast(at))
        .select($"node", (coalesce($"raw", lit(0.0)) / $"t").as("a"))
      if (truncate) auth = auth.roundBarrier()
      val hraw = e.join(auth.withColumnRenamed("node", "dst"), "dst")
        .groupBy($"src".as("node")).agg(sum($"a").as("raw"))
      val ht = hraw.agg(sum($"raw").as("t"))
      hub = nodes.join(hraw, Seq("node"), "left")
        .crossJoin(broadcast(ht))
        .select($"node", (coalesce($"raw", lit(0.0)) / $"t").as("h"))
      if (truncate) hub = hub.roundBarrier()
    }
    auth.join(hub, "node")
      .select($"node", round($"a", 4).as("auth"), round($"h", 4).as("hub"))
      .orderBy($"node")
  }

  /** Center-degree cap for q292's wedge generation: Adamic–Adar wedges
    * are C(deg,2) per center, so one hub node with 10⁵ support-filtered
    * neighbors is 5·10⁹ pairs — the same skew bomb q176 caps. Capped
    * centers are dropped whole (documented recall trade, q31's MaxBlock
    * posture); a no-op at every test SF (the item domain is ~100), it
    * exists to bite — visibly, not silently — at crawl-graph scale,
    * where production would sample hub neighbor lists instead. */
  private val MaxAaCenterDeg = 256

  /** Adamic–Adar link prediction (q292) — Adamic & Adar 2003: score
    * non-adjacent pairs by Σ_z 1/ln(deg z) over common neighbors z,
    * weighting rare shared neighbors above ubiquitous ones. This is
    * the standard "which items co-belong" score used to densify
    * co-engagement graphs and to propose near-dup candidates the
    * direct-edge evidence missed. Runs on the q158-support-filtered
    * undirected graph (the raw transition graph is near-complete —
    * every pair would be adjacent and the open-wedge set vacuous).
    * Shape: wedges generated at each center (one self-join shuffled on
    * the center id, volume Σ C(deg,2) bounded by the support filter +
    * [[MaxAaCenterDeg]]), existing edges removed by left_anti, one
    * pair agg, and the top-30 rank window heap-rewrites (q176's
    * shape). Centers in a wedge have ≥ 2 neighbors, so ln(deg) > 0 by
    * construction. Scores round before ranking so the rank order is a
    * pure function of the published values. */
  def qAdamicAdar(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val fe = undWeighted(s, dir)
      .filter($"c" >= MinEdgeWeight)
      .select($"a", $"b")
    adamicAdarCore(fe)
  }

  /** Adamic–Adar core over canonical undirected edges (a < b,
    * distinct); split out so the spec can pin scores on crafted
    * graphs (path → 1/ln 2; square → two wedges per diagonal). */
  private[graft] def adamicAdarCore(fe: DataFrame): DataFrame = {
    val s = fe.sparkSession
    import s.implicits._
    val sym = fe.select($"a".as("node"), $"b".as("nbr"))
      .union(fe.select($"b".as("node"), $"a".as("nbr")))
    val deg = sym.groupBy($"node").agg(count(lit(1)).as("deg"))
    val ctr = sym.join(deg, "node").filter($"deg" <= MaxAaCenterDeg)
    val wedges = ctr.select($"node", $"nbr".as("x"), $"deg")
      .join(ctr.select($"node", $"nbr".as("y")), Seq("node"))
      .filter($"x" < $"y")
    val open = wedges.join(fe,
      wedges("x") === fe("a") && wedges("y") === fe("b"), "left_anti")
    val scored = open.groupBy($"x".as("a"), $"y".as("b"))
      .agg((floor(sum(lit(1.0) / log($"deg")) * 1e4 + 0.5) / 1e4).as("score"))
    scored.withColumn("rk", row_number().over(
        Window.orderBy($"score".desc, $"a".asc, $"b".asc)))
      .filter($"rk" <= 30)
      .select($"rk", $"a", $"b", $"score")
      .orderBy($"rk")
  }

  /** Edge clustering coefficient (q340) — Radicchi et al. 2004's
    * community-boundary signal: per edge, C = z / (min(deg)−1) where z
    * is the edge's triangle count — low-C edges are inter-community
    * bridges (the Girvan–Newman cut criterion at edge-local cost,
    * where betweenness needs all-pairs paths). Scale shape: wedges
    * expand from the LOWER-degree endpoint of each edge (ties by id),
    * the Chiba–Nishizeki orientation that bounds candidate volume by
    * Σ_e min(deg) — the same degree-orientation trick behind q144's
    * global count, here kept per edge; candidate wedges close via one
    * equi-join against the canonical edge set. Leaf edges
    * (min(deg) = 1) have an undefined C and are excluded rather than
    * published as NULL (both engines sort on C). Top-20 by rounded C
    * then (a, b) so rank is a pure function of published values. */
  def qEdgeClustering(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val fe = undWeighted(s, dir)
      .filter($"c" >= MinEdgeWeight)
      .select($"a", $"b")
    edgeClusteringCore(fe)
  }

  /** Edge-clustering core over canonical undirected edges (a < b,
    * distinct); split out so the spec can pin C on crafted graphs
    * (triangle+tail: the triangle's edges at C = 1, bridge excluded). */
  private[graft] def edgeClusteringCore(fe: DataFrame): DataFrame = {
    val s = fe.sparkSession
    import s.implicits._
    val sym = fe.select($"a".as("node"), $"b".as("nbr"))
      .union(fe.select($"b".as("node"), $"a".as("nbr")))
    val deg = sym.groupBy($"node").agg(count(lit(1)).as("deg"))
    val fed = fe
      .join(deg.select($"node".as("a"), $"deg".as("da")), "a")
      .join(deg.select($"node".as("b"), $"deg".as("db")), "b")
    // pivot = lower-degree endpoint (ties by the a < b canonical id):
    // its neighbor list is the one that expands
    val piv = fed.select($"a", $"b", $"da", $"db",
      when($"da" <= $"db", $"a").otherwise($"b").as("p"),
      when($"da" <= $"db", $"b").otherwise($"a").as("q"))
    val cand = piv
      .join(sym.select($"node".as("p"), $"nbr".as("x")), Seq("p"))
      .filter($"x" =!= $"q")
      .select($"a", $"b",
        least($"x", $"q").as("xa"), greatest($"x", $"q").as("xb"))
    val tri = cand
      .join(fe.select($"a".as("xa"), $"b".as("xb")), Seq("xa", "xb"))
      .groupBy($"a", $"b").agg(count(lit(1)).as("z"))
    fed.join(tri, Seq("a", "b"), "left")
      .filter(least($"da", $"db") > 1L)
      .select($"a", $"b", coalesce($"z", lit(0L)).as("z"),
        least($"da", $"db").as("deg_min"),
        (floor(coalesce($"z", lit(0L))
          / (least($"da", $"db") - 1L).cast("double") * 1e4 + 0.5)
          / 1e4).as("c_edge"))
      .withColumn("rk", row_number().over(
        Window.orderBy($"c_edge".desc, $"a".asc, $"b".asc)))
      .filter($"rk" <= 20)
      .select($"rk", $"a", $"b", $"z", $"deg_min", $"c_edge")
      .orderBy($"rk")
  }

  /** q325: seed count and iteration depth for personalized PageRank. */
  private val PprSeeds = 3
  private val PprIters = 3

  /** Personalized PageRank (q325) — Haveliwala 2002 / the Pixie-style
    * recommendation read (Eksombatchai et al. 2018): rank flows as in
    * q92 but BOTH the restart mass and the dangling mass teleport to a
    * SEED SET instead of uniformly — "what is relevant to THESE
    * items", the item-item recommendation and related-content query
    * q92's global centrality cannot answer. Seeds are the top-3
    * weighted-in-degree items (ties by id — integer-deterministic, so
    * the oracle replays the seed choice); teleport is uniform over
    * them. Same scale shape as q92: per iteration one edge join + one
    * in-sum aggregate, every round `localCheckpoint`ed (the structural
    * guard class); the dangling correction keeps total mass 1. Scores
    * round before the top-20 rank so order is a pure function of
    * published values (q292's discipline). */
  def qPersonalizedPagerank(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    pprCore(weightedEdges(s, dir)
      .select($"src", $"dst", $"c".cast("double").as("w")))
  }

  /** PPR core over any weighted (src, dst, w) edge frame; split out so
    * the spec can pin seed locality on a crafted two-cluster graph. */
  private[graft] def pprCore(we0: DataFrame): DataFrame = {
    val s = we0.sparkSession
    import s.implicits._
    val we = we0.roundBarrier()
    val odeg = we.groupBy($"src").agg(sum($"w").as("odeg"))
      .roundBarrier()
    val nodes = we.select($"src".as("node"))
      .union(we.select($"dst".as("node"))).distinct()
      .roundBarrier()
    // seeds: top-3 weighted in-degree, ties by node — exact integers
    // (weights are transition counts) so the pick is deterministic
    val seeds = we.groupBy($"dst".as("node"))
      .agg(sum($"w").cast("long").as("ind"))
      .orderBy($"ind".desc, $"node".asc).limit(PprSeeds)
      .select($"node").roundBarrier()
    // 1/|seeds|, not 1/PprSeeds: a tiny graph can have fewer than
    // PprSeeds in-degree-positive nodes, and the teleport vector must
    // still sum to 1 or rank mass leaks every iteration
    val nSeeds = seeds.count()
    val tele = nodes.join(seeds.select($"node", lit(1).as("is_seed")),
        Seq("node"), "left")
      .select($"node",
        when($"is_seed" === 1, lit(1.0 / nSeeds)).otherwise(lit(0.0))
          .as("t"))
      .roundBarrier()
    var ranks = tele.select($"node", $"t".as("rank"))
    for (_ <- 1 to PprIters) {
      val contrib = ranks
        .join(we, ranks("node") === we("src"))
        .join(odeg, "src")
        .select($"dst".as("node"), ($"rank" * $"w" / $"odeg").as("c"))
      val inSum = contrib.groupBy($"node").agg(sum($"c").as("in_sum"))
      val dangling = ranks
        .join(odeg, ranks("node") === odeg("src"), "left_anti")
        .agg(coalesce(sum($"rank"), lit(0.0)).as("dm"))
      ranks = tele
        .join(inSum, Seq("node"), "left")
        .crossJoin(broadcast(dangling))
        .select($"node",
          ((lit(1.0) - Damping) * $"t" +
            lit(Damping) * (coalesce($"in_sum", lit(0.0)) + $"dm" * $"t"))
            .as("rank"))
        .roundBarrier()
    }
    val scored = ranks
      .join(seeds.select($"node", lit(true).as("s")), Seq("node"), "left")
      .select($"node", (floor($"rank" * 1e4 + 0.5) / 1e4).as("ppr"),
        coalesce($"s", lit(false)).as("is_seed"))
    scored.withColumn("rk", row_number().over(
        Window.orderBy($"ppr".desc, $"node".asc)))
      .filter($"rk" <= 20)
      .select($"rk", $"node", $"ppr", $"is_seed")
      .orderBy($"rk")
  }

  /** Degree assortativity (q326) — Newman 2002: the Pearson
    * correlation of endpoint degrees over the support-filtered
    * undirected edges (each edge contributes BOTH orientations, the
    * standard symmetric form: r = (M·Σxy − Σx·Σy)/(M·Σx² − (Σx)²)).
    * The graph-health scalar next to q144's clustering coefficient —
    * crawl/engagement graphs are typically DISassortative (hubs link
    * leaves, r < 0); r drifting toward 0/positive flags farm-shaped
    * structure. Scale shape: one degree aggregate, one edge join
    * against the degree map, one scalar aggregate — every sum an
    * EXACT integer (degrees are counts), one division at the end. A
    * degree-regular graph has zero degree variance — both engines
    * publish NULL there via the nullif'd denominator (Spark 0/0 is
    * NULL, DuckDB's is NaN — the q293 cross-engine class). */
  def qAssortativity(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val fe = undWeighted(s, dir)
      .filter($"c" >= MinEdgeWeight)
      .select($"a", $"b")
    assortativityCore(fe)
  }

  /** Assortativity core over canonical undirected edges; split out so
    * the spec can pin the sign on star vs clique fixtures. */
  private[graft] def assortativityCore(fe: DataFrame): DataFrame = {
    val s = fe.sparkSession
    import s.implicits._
    val sym = fe.select($"a".as("u"), $"b".as("v"))
      .union(fe.select($"b".as("u"), $"a".as("v")))
    val deg = sym.groupBy($"u".as("node")).agg(count(lit(1)).as("deg"))
    val pairs = sym
      .join(deg.select($"node".as("u"), $"deg".as("dx")), Seq("u"))
      .join(deg.select($"node".as("v"), $"deg".as("dy")), Seq("v"))
    // moments ride as decimal(38,0): m·Σxy and (Σx)² overflow a long
    // at crawl-graph scale (m ~ 10¹², Σxy ~ 10¹⁸), the q289 pattern
    val d38 = "decimal(38,0)"
    pairs.agg(count(lit(1)).cast(d38).as("m"),
        sum($"dx").cast(d38).as("sx"),
        sum($"dx" * $"dx").cast(d38).as("sxx"),
        sum($"dx" * $"dy").cast(d38).as("sxy"))
      .select($"m".cast("long").as("m"),
        (floor(($"m" * $"sxy" - $"sx" * $"sx").cast("double")
          / when(($"m" * $"sxx" - $"sx" * $"sx") =!= 0,
            ($"m" * $"sxx" - $"sx" * $"sx")).cast("double") * 1e4 + 0.5)
          / 1e4).as("assortativity"))
  }

  override def queries: Map[String, (SparkSession, String) => DataFrame] =
    Map("q92_pagerank" -> (qPagerank _),
        "q326_assortativity" -> (qAssortativity _),
        "q144_triangles" -> (qTriangles _),
        "q158_cc_stars" -> (qConnectedStars _),
        "q175_component_sizes" -> (qComponentSizes _),
        "q214_degree_mle" -> (qDegreeMle _),
        "q216_kcore" -> (qKCore _),
        "q219_lpa_communities" -> (qLpaCommunities _),
        "q220_bfs_hops" -> (qBfsHops _),
        "q176_coengagement" -> (qCoengagement _),
        "q291_hits" -> (qHits _),
        "q292_adamic_adar" -> (qAdamicAdar _),
        "q340_edge_clustering" -> (qEdgeClustering _),
        "q353_modularity" -> (qModularity _),
        "q325_personalized_pagerank" -> (qPersonalizedPagerank _))

  /** The oracle unrolls the same three iterations as chained CTEs. */
  override def oracleSql: Map[String, String] = {
    def iter(prev: String, cur: String): String =
      s"""c$cur AS (
        |  SELECT we.dst AS node, sum(r$prev.rank * we.w / odeg.odeg) AS in_sum
        |  FROM r$prev JOIN we ON r$prev.node = we.src
        |  JOIN odeg ON we.src = odeg.src
        |  GROUP BY we.dst),
        |d$cur AS (
        |  SELECT coalesce(sum(rank), 0.0) AS dm FROM r$prev
        |  WHERE node NOT IN (SELECT src FROM odeg)),
        |r$cur AS (
        |  SELECT nodes.node,
        |    (1.0 - $Damping) / n.n
        |      + $Damping * (coalesce(c$cur.in_sum, 0.0) + d$cur.dm / n.n)
        |      AS rank
        |  FROM nodes CROSS JOIN n
        |  LEFT JOIN c$cur ON nodes.node = c$cur.node
        |  CROSS JOIN d$cur)""".stripMargin
    // q144's oracle counts the same triangles via the naive id-ordered
    // a<b<c three-way self-join — affordable at oracle scale; the engine
    // side reaches the identical set through degree orientation.
    val trianglesSql =
      s"""WITH ev AS (
        |  SELECT user_id, ts, event_id,
        |    CAST(json_extract_string(props, '$$.k') AS BIGINT) AS item
        |  FROM events),
        |o AS (
        |  SELECT user_id, item,
        |    lag(item) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS src
        |  FROM ev),
        |edges AS (
        |  SELECT src, item AS dst FROM o
        |  WHERE src IS NOT NULL AND src <> item),
        |und AS (
        |  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
        |  FROM edges),
        |deg AS (
        |  SELECT node, count(*) AS d
        |  FROM (SELECT a AS node FROM und UNION ALL SELECT b FROM und)
        |  GROUP BY node),
        |tri AS (
        |  SELECT count(*) AS n_triangles
        |  FROM und e1
        |  JOIN und e2 ON e2.a = e1.a AND e2.b > e1.b
        |  JOIN und e3 ON e3.a = e1.b AND e3.b = e2.b),
        |agg AS (
        |  SELECT CAST(sum(d * (d - 1) // 2) AS BIGINT) AS n_wedges,
        |         count(*) AS n_nodes
        |  FROM deg),
        |ecnt AS (SELECT count(*) AS n_edges FROM und)
        |SELECT n_nodes, n_edges, n_wedges, n_triangles,
        |  round(3.0 * n_triangles / n_wedges, 4) AS clustering
        |FROM agg CROSS JOIN ecnt CROSS JOIN tri""".stripMargin
    // q158's oracle computes TRUE components (min reachable id) by
    // recursive min-label propagation: a node records a label smaller
    // than itself and re-propagates; since the component min is below
    // every other member, it reaches all of them. The engine reaches
    // the same set via star contraction — algorithm vs spec.
    val ccStarsSql =
      s"""WITH RECURSIVE ev AS (
        |  SELECT user_id, ts, event_id,
        |    CAST(json_extract_string(props, '$$.k') AS BIGINT) AS item
        |  FROM events),
        |o AS (
        |  SELECT user_id, item,
        |    lag(item) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS src
        |  FROM ev),
        |edges AS (
        |  SELECT src, item AS dst FROM o
        |  WHERE src IS NOT NULL AND src <> item),
        |und AS (
        |  SELECT least(src, dst) AS a, greatest(src, dst) AS b, count(*) AS c
        |  FROM edges GROUP BY 1, 2),
        |fe AS (SELECT a, b FROM und WHERE c >= $MinEdgeWeight),
        |sym AS (
        |  SELECT a AS u, b AS v FROM fe
        |  UNION ALL SELECT b, a FROM fe),
        |nodes AS (SELECT DISTINCT u AS node FROM sym),
        |lbl(node, comp) AS (
        |  SELECT node, node FROM nodes
        |  UNION
        |  SELECT s.v, l.comp FROM lbl l JOIN sym s ON s.u = l.node
        |  WHERE l.comp < s.v)
        |SELECT node, min(comp) AS comp FROM lbl
        |GROUP BY node ORDER BY node""".stripMargin
    val componentSizesSql =
      s"""WITH RECURSIVE ev AS (
        |  SELECT user_id, ts, event_id,
        |    CAST(json_extract_string(props, '$$.k') AS BIGINT) AS item
        |  FROM events),
        |o AS (
        |  SELECT user_id, item,
        |    lag(item) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS src
        |  FROM ev),
        |edges AS (
        |  SELECT src, item AS dst FROM o
        |  WHERE src IS NOT NULL AND src <> item),
        |und AS (
        |  SELECT least(src, dst) AS a, greatest(src, dst) AS b, count(*) AS c
        |  FROM edges GROUP BY 1, 2),
        |fe AS (SELECT a, b FROM und WHERE c >= $MinEdgeWeight),
        |sym AS (
        |  SELECT a AS u, b AS v FROM fe
        |  UNION ALL SELECT b, a FROM fe),
        |nodes AS (SELECT DISTINCT u AS node FROM sym),
        |lbl(node, comp) AS (
        |  SELECT node, node FROM nodes
        |  UNION
        |  SELECT s.v, l.comp FROM lbl l JOIN sym s ON s.u = l.node
        |  WHERE l.comp < s.v),
        |comps AS (
        |  SELECT node, min(comp) AS comp FROM lbl GROUP BY node),
        |sizes AS (
        |  SELECT comp, CAST(count(*) AS BIGINT) AS size
        |  FROM comps GROUP BY comp),
        |tot AS (SELECT CAST(sum(size) AS BIGINT) AS n_nodes FROM sizes)
        |SELECT size, CAST(count(*) AS BIGINT) AS n_components,
        |  round(size * count(*) / CAST(n_nodes AS DOUBLE), 4) AS node_share
        |FROM sizes CROSS JOIN tot
        |GROUP BY size, n_nodes ORDER BY size DESC""".stripMargin
    val coengagementSql =
      s"""WITH ui AS (
        |  SELECT DISTINCT user_id,
        |    CAST(json_extract_string(props, '$$.k') AS BIGINT) AS item
        |  FROM events
        |  WHERE json_extract_string(props, '$$.k') IS NOT NULL),
        |ok AS (
        |  SELECT user_id FROM ui GROUP BY user_id
        |  HAVING count(*) <= $MaxUserDeg),
        |capped AS (SELECT ui.* FROM ui JOIN ok USING (user_id)),
        |pairs AS (
        |  SELECT x.item AS a, y.item AS b, CAST(count(*) AS BIGINT)
        |      AS n_users
        |  FROM capped x JOIN capped y
        |    ON x.user_id = y.user_id AND x.item < y.item
        |  GROUP BY x.item, y.item),
        |ranked AS (
        |  SELECT *, row_number() OVER (
        |    ORDER BY n_users DESC, a ASC, b ASC) AS rk FROM pairs)
        |SELECT CAST(rk AS INTEGER) AS rk, a, b, n_users
        |FROM ranked WHERE rk <= 30 ORDER BY rk""".stripMargin
    val kcoreSql = {
      val peels = (1 to CoreIters).map { i =>
        s"""d$i AS (
          |  SELECT node, CAST(count(*) AS BIGINT) AS d FROM (
          |    SELECT a AS node FROM und
          |    WHERE a IN (SELECT node FROM a${i - 1})
          |      AND b IN (SELECT node FROM a${i - 1})
          |    UNION ALL
          |    SELECT b FROM und
          |    WHERE a IN (SELECT node FROM a${i - 1})
          |      AND b IN (SELECT node FROM a${i - 1}))
          |  GROUP BY node),
          |a$i AS MATERIALIZED (
          |  SELECT node FROM d$i WHERE d >= $CoreK)""".stripMargin
      }.mkString(",\n")
      s"""WITH ev AS (
        |  SELECT user_id, ts, event_id,
        |    CAST(json_extract_string(props, '$$.k') AS BIGINT) AS item
        |  FROM events),
        |o AS (
        |  SELECT user_id, item,
        |    lag(item) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      AS src
        |  FROM ev),
        |edges AS (
        |  SELECT src, item AS dst FROM o
        |  WHERE src IS NOT NULL AND src <> item),
        |und AS MATERIALIZED (
        |  SELECT least(src, dst) AS a, greatest(src, dst) AS b
        |  FROM edges GROUP BY 1, 2 HAVING count(*) >= $CoreSupport),
        |a0 AS MATERIALIZED (
        |  SELECT DISTINCT node
        |  FROM (SELECT a AS node FROM und UNION ALL SELECT b FROM und)),
        |$peels,
        |fdeg AS (
        |  SELECT node, CAST(count(*) AS BIGINT) AS d FROM (
        |    SELECT a AS node FROM und
        |    WHERE a IN (SELECT node FROM a$CoreIters)
        |      AND b IN (SELECT node FROM a$CoreIters)
        |    UNION ALL
        |    SELECT b FROM und
        |    WHERE a IN (SELECT node FROM a$CoreIters)
        |      AND b IN (SELECT node FROM a$CoreIters))
        |  GROUP BY node),
        |cv AS (
        |  SELECT (SELECT count(*) FROM a${CoreIters - 1})
        |    = (SELECT count(*) FROM a$CoreIters) AS converged)
        |SELECT a0.node,
        |  a$CoreIters.node IS NOT NULL AS in_core,
        |  fdeg.d AS core_deg, cv.converged
        |FROM a0
        |LEFT JOIN a$CoreIters ON a0.node = a$CoreIters.node
        |LEFT JOIN fdeg ON a0.node = fdeg.node
        |CROSS JOIN cv
        |ORDER BY a0.node""".stripMargin
    }
    // the LPA chain (graph build + 4 unrolled rounds) is shared by the
    // q219 read-out and q353's modularity tail
    val lpaChain = {
      val rounds = (1 to LpaIters).map { i =>
        s"""c$i AS (
          |  SELECT s.u AS node, l.lab, CAST(count(*) AS BIGINT) AS cnt
          |  FROM sym s JOIN l${i - 1} l ON l.node = s.v
          |  GROUP BY 1, 2),
          |l$i AS MATERIALIZED (
          |  SELECT node, lab FROM (
          |    SELECT node, lab, row_number() OVER (
          |      PARTITION BY node ORDER BY cnt DESC, lab ASC) AS rk
          |    FROM c$i) WHERE rk = 1)""".stripMargin
      }.mkString(",\n")
      s"""ev AS (
        |  SELECT user_id, ts, event_id,
        |    CAST(json_extract_string(props, '$$.k') AS BIGINT) AS item
        |  FROM events),
        |o AS (
        |  SELECT user_id, item,
        |    lag(item) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      AS src
        |  FROM ev),
        |edges AS (
        |  SELECT src, item AS dst FROM o
        |  WHERE src IS NOT NULL AND src <> item),
        |und AS (
        |  SELECT least(src, dst) AS a, greatest(src, dst) AS b
        |  FROM edges GROUP BY 1, 2 HAVING count(*) >= $LpaSupport),
        |sym AS MATERIALIZED (
        |  SELECT a AS u, b AS v FROM und
        |  UNION ALL SELECT b, a FROM und),
        |l0 AS (SELECT DISTINCT u AS node, u AS lab FROM sym),
        |$rounds""".stripMargin
    }
    val lpaSql =
      s"""WITH $lpaChain
        |SELECT node, lab AS comm,
        |  CAST(count(*) OVER (PARTITION BY lab) AS BIGINT) AS comm_size
        |FROM l$LpaIters ORDER BY node""".stripMargin
    // q353: modularity over the same chain — exact integer numerators
    // (ΣL_c, Σd_c²), one double expression at the end, every agg shape
    // mirroring the engine (LEFT JOIN + coalesce for edge-less
    // communities, any_value(m) so the empty-graph row is NULL/0 the
    // same way on both engines)
    val modularitySql =
      s"""WITH $lpaChain,
        |lab AS (SELECT node, lab FROM l$LpaIters),
        |deg AS (
        |  SELECT node, CAST(count(*) AS BIGINT) AS d FROM (
        |    SELECT a AS node FROM und
        |    UNION ALL SELECT b AS node FROM und)
        |  GROUP BY node),
        |dcq AS (
        |  SELECT l.lab, CAST(sum(d.d) AS BIGINT) AS dc
        |  FROM deg d JOIN lab l USING (node) GROUP BY l.lab),
        |lcq AS (
        |  SELECT la.lab, CAST(count(*) AS BIGINT) AS lc
        |  FROM und u JOIN lab la ON la.node = u.a
        |  JOIN lab lb ON lb.node = u.b
        |  WHERE la.lab = lb.lab GROUP BY la.lab),
        |mrow AS (SELECT CAST(count(*) AS BIGINT) AS m FROM und),
        |per AS (
        |  SELECT d.lab, coalesce(l.lc, 0) AS lc, d.dc
        |  FROM dcq d LEFT JOIN lcq l USING (lab))
        |SELECT CAST(count(*) AS BIGINT) AS n_comms,
        |  any_value(m) AS m_edges,
        |  CAST(sum(lc) AS BIGINT) AS intra_edges,
        |  round(CAST(sum(lc) AS DOUBLE) / nullif(any_value(m), 0)
        |    - CAST(sum(dc * dc) AS DOUBLE)
        |      / (4.0 * any_value(m) * any_value(m)), 4) + 0.0
        |    AS modularity
        |FROM per CROSS JOIN mrow""".stripMargin
    val bfsSql = {
      val rounds = (1 to BfsIters).map { i =>
        s"""d$i AS MATERIALIZED (
          |  SELECT node, min(d) AS d FROM (
          |    SELECT node, d FROM d${i - 1}
          |    UNION ALL
          |    SELECT s.v AS node, p.d + 1 AS d
          |    FROM d${i - 1} p JOIN sym s ON s.u = p.node)
          |  GROUP BY node)""".stripMargin
      }.mkString(",\n")
      s"""WITH ev AS (
        |  SELECT user_id, ts, event_id,
        |    CAST(json_extract_string(props, '$$.k') AS BIGINT) AS item
        |  FROM events),
        |o AS (
        |  SELECT user_id, item,
        |    lag(item) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      AS src
        |  FROM ev),
        |edges AS (
        |  SELECT src, item AS dst FROM o
        |  WHERE src IS NOT NULL AND src <> item),
        |und AS (
        |  SELECT least(src, dst) AS a, greatest(src, dst) AS b
        |  FROM edges GROUP BY 1, 2 HAVING count(*) >= $MinEdgeWeight),
        |sym AS MATERIALIZED (
        |  SELECT a AS u, b AS v FROM und
        |  UNION ALL SELECT b, a FROM und),
        |nodes AS (SELECT DISTINCT u AS node FROM sym),
        |d0 AS (
        |  SELECT node, CAST(0 AS BIGINT) AS d FROM nodes
        |  WHERE node = (SELECT min(node) FROM nodes)
        |     OR node = (SELECT max(node) FROM nodes)),
        |$rounds
        |SELECT n.node, f.d AS hops, f.d IS NOT NULL AS reached
        |FROM nodes n LEFT JOIN d$BfsIters f ON n.node = f.node
        |ORDER BY n.node""".stripMargin
    }
    Map(
      "q216_kcore" -> kcoreSql,
      "q219_lpa_communities" -> lpaSql,
      "q353_modularity" -> modularitySql,
      "q220_bfs_hops" -> bfsSql,
      "q214_degree_mle" ->
        """WITH ui AS (
          |  SELECT DISTINCT user_id,
          |    CAST(json_extract_string(props, '$.k') AS BIGINT) AS item
          |  FROM events
          |  WHERE json_extract_string(props, '$.k') IS NOT NULL),
          |deg AS (
          |  SELECT item, CAST(count(*) AS BIGINT) AS d
          |  FROM ui GROUP BY item),
          |dm AS (SELECT min(d) AS d_min FROM deg)
          |SELECT CAST(count(*) AS BIGINT) AS n_items, d_min,
          |  max(d) AS d_max, round(avg(d), 4) AS mean_deg,
          |  round(1.0 + count(*)
          |    / sum(ln(CAST(d AS DOUBLE) / (d_min - 0.5))), 4)
          |    AS alpha_mle
          |FROM deg CROSS JOIN dm GROUP BY d_min""".stripMargin,
      "q144_triangles" -> trianglesSql,
      "q158_cc_stars" -> ccStarsSql,
      "q175_component_sizes" -> componentSizesSql,
      "q176_coengagement" -> coengagementSql,
      "q326_assortativity" ->
      s"""WITH ev AS (
        |  SELECT user_id, ts, event_id,
        |    CAST(json_extract_string(props, '$$.k') AS BIGINT) AS item
        |  FROM events),
        |o AS (
        |  SELECT user_id, item,
        |    lag(item) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      AS src
        |  FROM ev),
        |edges AS (
        |  SELECT src, item AS dst FROM o
        |  WHERE src IS NOT NULL AND src <> item),
        |und AS (
        |  SELECT least(src, dst) AS a, greatest(src, dst) AS b,
        |    count(*) AS c
        |  FROM edges GROUP BY 1, 2),
        |fe AS (SELECT a, b FROM und WHERE c >= $MinEdgeWeight),
        |sym AS (
        |  SELECT a AS u, b AS v FROM fe
        |  UNION ALL SELECT b, a FROM fe),
        |deg AS (SELECT u AS node, count(*) AS deg FROM sym GROUP BY u),
        |pairs AS (
        |  SELECT dx.deg AS dx, dy.deg AS dy
        |  FROM sym JOIN deg dx ON sym.u = dx.node
        |  JOIN deg dy ON sym.v = dy.node),
        |agg AS (
        |  SELECT CAST(count(*) AS HUGEINT) AS m,
        |    CAST(sum(dx) AS HUGEINT) AS sx,
        |    CAST(sum(dx * dx) AS HUGEINT) AS sxx,
        |    CAST(sum(dx * dy) AS HUGEINT) AS sxy
        |  FROM pairs)
        |SELECT CAST(m AS BIGINT) AS m,
        |  floor(CAST(m * sxy - sx * sx AS DOUBLE)
        |    / CAST(nullif(m * sxx - sx * sx, 0) AS DOUBLE)
        |    * 1e4 + 0.5) / 1e4 AS assortativity
        |FROM agg""".stripMargin,
      // q325: q92's unrolled iterations with restart AND dangling mass
      // teleporting to the integer-deterministic top-in-degree seeds
      "q325_personalized_pagerank" -> {
        def pit(prev: String, cur: String): String =
          s"""c$cur AS (
            |  SELECT we.dst AS node,
            |    sum(p$prev.rank * we.w / odeg.odeg) AS in_sum
            |  FROM p$prev JOIN we ON p$prev.node = we.src
            |  JOIN odeg ON we.src = odeg.src
            |  GROUP BY we.dst),
            |d$cur AS (
            |  SELECT coalesce(sum(rank), 0.0) AS dm FROM p$prev
            |  WHERE node NOT IN (SELECT src FROM odeg)),
            |p$cur AS (
            |  SELECT tele.node,
            |    (1.0 - $Damping) * tele.t
            |      + $Damping * (coalesce(c$cur.in_sum, 0.0)
            |        + d$cur.dm * tele.t) AS rank
            |  FROM tele LEFT JOIN c$cur ON tele.node = c$cur.node
            |  CROSS JOIN d$cur)""".stripMargin
        s"""WITH ev AS (
          |  SELECT user_id, ts, event_id,
          |    CAST(json_extract_string(props, '$$.k') AS BIGINT) AS item
          |  FROM events),
          |o AS (
          |  SELECT user_id, item,
          |    lag(item) OVER (PARTITION BY user_id ORDER BY ts, event_id)
          |      AS src
          |  FROM ev),
          |edges AS (
          |  SELECT src, item AS dst FROM o
          |  WHERE src IS NOT NULL AND src <> item),
          |we AS (
          |  SELECT src, dst, CAST(count(*) AS DOUBLE) AS w
          |  FROM edges GROUP BY src, dst),
          |odeg AS (SELECT src, sum(w) AS odeg FROM we GROUP BY src),
          |nodes AS (
          |  SELECT src AS node FROM edges
          |  UNION SELECT dst FROM edges),
          |seeds AS (
          |  SELECT node FROM (
          |    SELECT dst AS node, CAST(sum(w) AS BIGINT) AS ind
          |    FROM we GROUP BY dst)
          |  ORDER BY ind DESC, node LIMIT $PprSeeds),
          |tele AS (
          |  SELECT nodes.node,
          |    CASE WHEN nodes.node IN (SELECT node FROM seeds)
          |      THEN 1.0 / (SELECT count(*) FROM seeds)
          |      ELSE 0.0 END AS t
          |  FROM nodes),
          |p0 AS (SELECT node, t AS rank FROM tele),
          |${pit("0", "1")},
          |${pit("1", "2")},
          |${pit("2", "3")},
          |scored AS (
          |  SELECT p3.node, floor(p3.rank * 1e4 + 0.5) / 1e4 AS ppr,
          |    p3.node IN (SELECT node FROM seeds) AS is_seed
          |  FROM p3),
          |rkd AS (
          |  SELECT *, row_number() OVER (ORDER BY ppr DESC, node) AS rk
          |  FROM scored)
          |SELECT rk, node, ppr, is_seed FROM rkd WHERE rk <= 20
          |ORDER BY rk""".stripMargin
      },
      "q92_pagerank" ->
      s"""WITH ev AS (
        |  SELECT user_id, ts, event_id,
        |    CAST(json_extract_string(props, '$$.k') AS BIGINT) AS item
        |  FROM events),
        |o AS (
        |  SELECT user_id, item,
        |    lag(item) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS src
        |  FROM ev),
        |edges AS (
        |  SELECT src, item AS dst FROM o
        |  WHERE src IS NOT NULL AND src <> item),
        |we AS (
        |  SELECT src, dst, CAST(count(*) AS DOUBLE) AS w
        |  FROM edges GROUP BY src, dst),
        |odeg AS (SELECT src, sum(w) AS odeg FROM we GROUP BY src),
        |nodes AS (
        |  SELECT src AS node FROM edges
        |  UNION SELECT dst FROM edges),
        |n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
        |r0 AS (SELECT node, 1.0 / n AS rank FROM nodes CROSS JOIN n),
        |${iter("0", "1")},
        |${iter("1", "2")},
        |${iter("2", "3")}
        |SELECT node, round(rank, 4) AS rank FROM r3
        |ORDER BY node""".stripMargin,
      // q291: same unrolled-CTE discipline as q92 — one auth half-step
      // (in-edge sum + L1 normalize) and one hub half-step per round.
      "q291_hits" -> {
        def hit(prev: String, cur: String): String =
          s"""ar$cur AS (
            |  SELECT e.dst AS node, sum(h$prev.h) AS raw
            |  FROM edges e JOIN h$prev ON e.src = h$prev.node
            |  GROUP BY e.dst),
            |at$cur AS (SELECT sum(raw) AS t FROM ar$cur),
            |a$cur AS (
            |  SELECT nodes.node, coalesce(ar$cur.raw, 0.0) / at$cur.t AS a
            |  FROM nodes LEFT JOIN ar$cur ON nodes.node = ar$cur.node
            |  CROSS JOIN at$cur),
            |hr$cur AS (
            |  SELECT e.src AS node, sum(a$cur.a) AS raw
            |  FROM edges e JOIN a$cur ON e.dst = a$cur.node
            |  GROUP BY e.src),
            |ht$cur AS (SELECT sum(raw) AS t FROM hr$cur),
            |h$cur AS (
            |  SELECT nodes.node, coalesce(hr$cur.raw, 0.0) / ht$cur.t AS h
            |  FROM nodes LEFT JOIN hr$cur ON nodes.node = hr$cur.node
            |  CROSS JOIN ht$cur)""".stripMargin
        s"""WITH ev AS (
          |  SELECT user_id, ts, event_id,
          |    CAST(json_extract_string(props, '$$.k') AS BIGINT) AS item
          |  FROM events),
          |o AS (
          |  SELECT user_id, item,
          |    lag(item) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS src
          |  FROM ev),
          |edges AS (
          |  SELECT DISTINCT src, item AS dst FROM o
          |  WHERE src IS NOT NULL AND src <> item),
          |nodes AS (
          |  SELECT src AS node FROM edges
          |  UNION SELECT dst FROM edges),
          |h0 AS (SELECT node, CAST(1.0 AS DOUBLE) AS h FROM nodes),
          |${hit("0", "1")},
          |${hit("1", "2")},
          |${hit("2", "3")}
          |SELECT a3.node AS node, round(a3.a, 4) AS auth,
          |  round(h3.h, 4) AS hub
          |FROM a3 JOIN h3 ON a3.node = h3.node
          |ORDER BY node""".stripMargin
      },
      // q340: z via the naive neighbor-pair close (affordable at oracle
      // scale); the engine reaches the identical per-edge counts
      // through the min-degree orientation
      "q340_edge_clustering" ->
      s"""WITH ev AS (
        |  SELECT user_id, ts, event_id,
        |    CAST(json_extract_string(props, '$$.k') AS BIGINT) AS item
        |  FROM events),
        |o AS (
        |  SELECT user_id, item,
        |    lag(item) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS src
        |  FROM ev),
        |edges AS (
        |  SELECT src, item AS dst FROM o
        |  WHERE src IS NOT NULL AND src <> item),
        |und AS (
        |  SELECT least(src, dst) AS a, greatest(src, dst) AS b, count(*) AS c
        |  FROM edges GROUP BY 1, 2),
        |fe AS (SELECT a, b FROM und WHERE c >= $MinEdgeWeight),
        |sym AS (
        |  SELECT a AS node, b AS nbr FROM fe
        |  UNION ALL SELECT b, a FROM fe),
        |deg AS (SELECT node, count(*) AS deg FROM sym GROUP BY node),
        |tri AS (
        |  SELECT fe.a, fe.b, CAST(count(*) AS BIGINT) AS z
        |  FROM fe
        |  JOIN sym s1 ON s1.node = fe.a
        |  JOIN sym s2 ON s2.node = fe.b AND s2.nbr = s1.nbr
        |  GROUP BY fe.a, fe.b),
        |scored AS (
        |  SELECT fe.a, fe.b, coalesce(tri.z, 0) AS z,
        |    least(d1.deg, d2.deg) AS deg_min,
        |    floor(coalesce(tri.z, 0)
        |      / CAST(least(d1.deg, d2.deg) - 1 AS DOUBLE) * 1e4 + 0.5)
        |      / 1e4 AS c_edge
        |  FROM fe
        |  JOIN deg d1 ON d1.node = fe.a
        |  JOIN deg d2 ON d2.node = fe.b
        |  LEFT JOIN tri ON tri.a = fe.a AND tri.b = fe.b
        |  WHERE least(d1.deg, d2.deg) > 1),
        |rkd AS (
        |  SELECT *, row_number() OVER (ORDER BY c_edge DESC, a, b) AS rk
        |  FROM scored)
        |SELECT rk, a, b, CAST(z AS BIGINT) AS z,
        |  CAST(deg_min AS BIGINT) AS deg_min, c_edge
        |FROM rkd WHERE rk <= 20 ORDER BY rk""".stripMargin,
      "q292_adamic_adar" ->
      s"""WITH ev AS (
        |  SELECT user_id, ts, event_id,
        |    CAST(json_extract_string(props, '$$.k') AS BIGINT) AS item
        |  FROM events),
        |o AS (
        |  SELECT user_id, item,
        |    lag(item) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS src
        |  FROM ev),
        |edges AS (
        |  SELECT src, item AS dst FROM o
        |  WHERE src IS NOT NULL AND src <> item),
        |und AS (
        |  SELECT least(src, dst) AS a, greatest(src, dst) AS b, count(*) AS c
        |  FROM edges GROUP BY 1, 2),
        |fe AS (SELECT a, b FROM und WHERE c >= $MinEdgeWeight),
        |sym AS (
        |  SELECT a AS node, b AS nbr FROM fe
        |  UNION ALL SELECT b, a FROM fe),
        |deg AS (SELECT node, count(*) AS deg FROM sym GROUP BY node),
        |ctr AS (
        |  SELECT s.node, s.nbr, d.deg FROM sym s
        |  JOIN deg d ON s.node = d.node WHERE d.deg <= $MaxAaCenterDeg),
        |w AS (
        |  SELECT c1.node, c1.nbr AS x, c2.nbr AS y, c1.deg
        |  FROM ctr c1 JOIN ctr c2
        |    ON c1.node = c2.node AND c1.nbr < c2.nbr),
        |open AS (
        |  SELECT * FROM w WHERE NOT EXISTS (
        |    SELECT 1 FROM fe WHERE fe.a = w.x AND fe.b = w.y)),
        |sc AS (
        |  SELECT x AS a, y AS b,
        |    floor(sum(1.0 / ln(deg)) * 1e4 + 0.5) / 1e4 AS score
        |  FROM open GROUP BY x, y),
        |rkd AS (
        |  SELECT a, b, score,
        |    row_number() OVER (ORDER BY score DESC, a, b) AS rk
        |  FROM sc)
        |SELECT rk, a, b, score FROM rkd WHERE rk <= 30
        |ORDER BY rk""".stripMargin)
  }
}
