package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, StructField, StructType}

/** Iterative graph analytics over edge DataFrames. Companion to the
  * connected-components machinery in [[Dedup]] — same execution shape
  * (edge table checkpointed once, a slim per-node state frame joined
  * against it per round, `localCheckpoint` as the iteration barrier so
  * lineage never re-derives earlier rounds).
  *
  * The round loops share a handful of private kernels: one adjacency
  * index builder ([[adjacency]], [[nodesOf]]), one seed resolver
  * ([[seedsIn]]), one PageRank round ([[rankRounds]]), one BFS frontier
  * expansion ([[frontierLayers]]) with its Brandes backward pass
  * ([[brandesBackward]]), and one modularity move round
  * ([[moveRounds]]). Every iteration barrier of those families sits in
  * these kernels.
  */
object Graph {

  /** ENFORCED degree-skew contract for every adjacency index below: each
    * loop documents "one neighbor array per node must fit an executor
    * row — pre-cap or salt-split hubs upstream", and this guard turns
    * that prose into a named in-plan error instead of an executor OOM
    * halfway through a web-scale job. One `size(ns) <= cap` comparison
    * per node at index-build (checkpoint) time — no extra job, no extra
    * exchange (the `graft.ann.maxProbe` pattern). The error names the
    * first offending hub and its degree; run
    * [[graft.ops.Profile.joinSizeAudit]] on the edge list for the full
    * hub ranking. Default cap 1e6 neighbors ≈ 8–16 MB per row — far
    * above any healthy adjacency, far below an OOM-at-collect_set. */
  private[ops] def guardDegree(adj: DataFrame, nodeCol: String,
      nsCol: String): DataFrame = {
    val cap = maxDegree(adj.sparkSession)
    val t = adj.schema(adj.schema.fieldIndex(nsCol)).dataType.catalogString
    adj.withColumn(nsCol,
      when(size(col(nsCol)) <= cap, col(nsCol))
        .otherwise(raise_error(concat(degreeCapMessage(cap,
          col(nodeCol).cast("string"), size(col(nsCol)).cast("string"))(lit): _*))
          .cast(t)))
  }

  private def maxDegree(spark: SparkSession): Long =
    spark.conf.get("graft.graph.maxDegree", "1000000").toLong

  /** [[guardDegree]]'s error text in its five parts (text, the node,
    * text, its degree, text), with `text` lifting the literal parts —
    * `lit` for the in-plan guard, `identity` for the driver tier. */
  private def degreeCapMessage[T](cap: Long, node: T, degree: T)(
      text: String => T): Seq[T] =
    Seq(text(s"graph adjacency degree cap graft.graph.maxDegree=$cap " +
        "exceeded: node "), node, text(" has degree "), degree,
      text(" — pre-cap or salt-split hub nodes upstream " +
        "(Profile.joinSizeAudit ranks the hubs), or raise the conf " +
        "if executor rows this large are genuinely intended"))

  /** The ADJACENCY INDEX the round loops probe: one (src, ns[]) row per
    * node with out-edges — V index rows instead of E edge rows. Each
    * round equi-joins its slim state against the index and explodes only
    * the MATCHED lists in-task, so no round re-shuffles the E-row edge
    * table. NULL endpoints are dropped explicitly (a null is not a node).
    * `ns` defaults to collect_set(dst), which also dedups parallel edges,
    * so out-degree = size(ns); weighted callers pass [[weightedNs]] and
    * any per-node aggregate in `more` (e.g. the out-weight sum `sw`).
    * Degree-skew contract enforced by [[guardDegree]]. Lazy barrier: the
    * first consumer (a control-plane count or the first probe)
    * materializes it.
    *
    * @param edges (src, dst[, w]) rows */
  private def adjacency(edges: DataFrame,
      ns: Column = collect_set(col("dst")),
      more: Seq[Column] = Nil): DataFrame =
    guardDegree(edges.filter(col("src").isNotNull && col("dst").isNotNull)
      .groupBy(col("src")).agg(ns.as("ns"), more: _*), "src", "ns")
      .localCheckpoint(false)

  /** Weighted index entries: (dst, w) structs, one per (src, dst) row. */
  private def weightedNs: Column = collect_list(struct(col("dst"), col("w")))

  /** (node) per index entry: the plain neighbor id, or the `dst` of a
    * weighted (dst, w) entry. */
  private def neighborIds(adj: DataFrame): DataFrame = {
    val x = adj.select(explode(col("ns")).as("node"))
    if (x.schema("node").dataType.isInstanceOf[StructType])
      x.select(col("node.dst").as("node"))
    else x
  }

  /** The node set of an index: its src keys plus the dst-only sinks. On
    * a `symmetric` edge set (every (src,dst) has its (dst,src)) there are
    * no sinks, so the node set IS the key set — a projection of the
    * materialized index; the general union is checkpointed because every
    * round reads it. */
  private def nodesOf(adj: DataFrame, symmetric: Boolean): DataFrame =
    if (symmetric) adj.select(col("src").as("node"))
    else adj.select(col("src").as("node")).unionByName(neighborIds(adj))
      .distinct().localCheckpoint(false)

  /** The (node) seeds present in the graph. Validating a seed against the
    * src keys is one slim semi-join; only seeds that are NOT src keys
    * (sink nodes — none in a `symmetric` graph) force the full-|E|
    * dst-side membership pass, which is driver-gated on that remainder
    * being non-empty. Seeds outside the graph carry no edges and get no
    * row. */
  private def seedsIn(adj: DataFrame, seeds: DataFrame,
      symmetric: Boolean): DataFrame = {
    val sd0 = seeds.select(col("node")).distinct()
    // sd feeds both the semi and the anti probe; symmetric skips the anti
    // probe, so sd has one consumer and needs no barrier
    val sd = if (symmetric) sd0 else sd0.localCheckpoint()
    val keys = adj.select(col("src").as("node"))
    val srcSeeds = sd.join(keys, Seq("node"), "left_semi")
    lazy val rem = sd.join(keys, Seq("node"), "left_anti")
    if (symmetric || rem.isEmpty) srcSeeds
    else srcSeeds.unionByName(
      rem.join(neighborIds(adj).distinct(), Seq("node"), "left_semi"))
  }

  /** md5_low64 of a string, sign-flipped so signed long order is the
    * unsigned hash order — a content-keyed, engine-replayable priority
    * ([[graft.functions.Md5Low64]] parity contract). */
  private def unsignedMd5(s: Column): Column =
    graft.functions.Md5Low64(s).bitwiseXOR(lit(Long.MinValue))

  /** Rounds between state barriers in the lazily chained loops
    * ([[rankRounds]], [[ssspWeighted]]): a bounded iteration count chains
    * through Catalyst in one job, while long runs need the barrier to cap
    * lineage depth and the stage-retry blast radius. */
  private val barrierEvery = 8

  /** PageRank with damping 0.85 over a directed edge list, fixed
    * iteration count — entity-importance scoring (e.g. rank parts by
    * co-purchase centrality, domains by cross-link mass) where the
    * classic random-surfer weighting beats raw degree.
    *
    * EXACTNESS: ranks live in integer 1e12 units and every step is
    * integer arithmetic — `contrib = pr div out_deg`, `pr' =
    * floor(0.15·1e12/N) + (85·Σcontrib) div 100` — so results are
    * bit-identical across engines, partitionings, and retries (a float
    * PageRank is order-dependent in the Σ). Floor division leaks ≤1 unit
    * of mass per node per round (≈10⁻¹² relative) — ordering-irrelevant,
    * determinism-preserving.
    *
    * Scale shape: the [[adjacency]] index, built in one collect_set
    * exchange, probed by the slim (node, pr) state every round
    * ([[rankRounds]]); the per-round shuffle moves V state rows plus the
    * partially-aggregated contribution sums. N (node count) is a
    * control-plane scalar. Nodes with no inbound edges settle at the base
    * rank; dangling nodes (no outbound) leak their mass by DEFAULT — the
    * standard simplification — or redistribute it uniformly when
    * `redistributeDangling` is set: each round then runs one extra slim
    * aggregate (Σ pr over the once-built dangling-node frame, a 1-row
    * control-plane collect that becomes the next round's literal) and
    * adds `(dangling_mass div N)` to every node's contribution sum
    * before damping, so Σ pr stays ≈ 1e12 up to the documented
    * ≤1-unit-per-node floor leaks. On a dangling-free graph the frame is
    * empty, the collects are skipped, and the output is bit-identical to
    * the default path. Mass-conserving mode checkpoints the state per
    * round (the collect forces it anyway). Degree-skew contract: one
    * adjacency array per node must fit in an executor row — ENFORCED at
    * build time by [[guardDegree]] (`graft.graph.maxDegree`).
    *
    * @param edges (src, dst) rows; pass both directions for undirected
    * @param symmetric caller-asserted "every (src,dst) has its (dst,src)"
    *   (e.g. [[undirectedEdges]] output). Enables two exact shortcuts:
    *   the node set IS the adjacency key set (no explode+distinct pass),
    *   and every node has inbound mass so the per-round dangling left
    *   join is the identity — pr reads straight off the contribution
    *   aggregate, one exchange per round instead of two. Results are
    *   bit-identical to the general path on symmetric input.
    * @return (node, pr) — pr in 1e12 units
    */
  def pageRank(edges: DataFrame, iterations: Int = 5,
      symmetric: Boolean = false,
      redistributeDangling: Boolean = false): DataFrame = {
    require(iterations >= 1, "pageRank needs at least one iteration")
    uniformRank(adjacency(edges), iterations, symmetric, redistributeDangling)
  }

  /** [[pageRank]] / [[pageRankWeighted]] over a built index: every node
    * starts at 1e12 div N and receives floor(0.15·1e12/N) teleport mass
    * per round. */
  private def uniformRank(adj: DataFrame, iterations: Int,
      symmetric: Boolean, redistributeDangling: Boolean): DataFrame = {
    val nodes = nodesOf(adj, symmetric)
    val n = nodes.count() // control-plane scalar (drives two literals)
    // dangling nodes (no out-edges) are the node-set remainder against the
    // index keys — built once; empty on symmetric input by construction
    val dang = if (redistributeDangling && !symmetric)
      Some(nodes.join(adj.select(col("src").as("node")), Seq("node"),
        "left_anti").localCheckpoint()) // consumed once per round
    else None
    rankRounds(adj, nodes, nodes.withColumn("pr", lit(1000000000000L / n)),
      iterations, symmetric, Some(150000000000L / n),
      dang.filter(!_.isEmpty).map(_ -> n))
  }

  /** The PageRank round shared by [[pageRank]], [[personalizedPageRank]]
    * and [[pageRankWeighted]], in integer 1e12 units:
    *
    *   pr' = teleport + (85·(Σcontrib + dangling share)) div 100
    *
    * Contributions split uniformly (`pr div size(ns)`) or, on a weighted
    * index (one carrying the out-weight sum `sw`), in proportion to the
    * edge weight (`(pr·w) div sw`). Each round equi-joins the slim state
    * against the index, explodes the matched lists in-task and
    * partially aggregates the sums. The state has one consumer per round,
    * so rounds chain lazily and checkpoint only every [[barrierEvery]]
    * rounds — every round in mass-conserving mode.
    *
    * @param basis the node universe the state is re-keyed on: (node) with
    *   a uniform `base` teleport, or (node, sb) with per-node teleport
    *   `sb` when `base` is None
    * @param dangling the checkpointed non-empty dangling-node frame and N,
    *   when dangling mass is redistributed
    */
  private def rankRounds(adj: DataFrame, basis: DataFrame, pr0: DataFrame,
      iterations: Int, symmetric: Boolean, base: Option[Long],
      dangling: Option[(DataFrame, Long)] = None): DataFrame = {
    val weighted = adj.columns.contains("sw")
    var pr = pr0
    for (i <- 1 to iterations) {
      // dangling mass of the CURRENT state, folded in as a literal (a 1-row
      // control-plane collect); div N floors like every other mass split
      val share = dangling.fold("") { case (dang, n) =>
        val mass = pr.join(dang, Seq("node"), "left_semi")
          .agg(coalesce(sum(col("pr")), lit(0L))).head().getLong(0)
        s" + ${mass / n}L"
      }
      val probe = adj.join(pr.withColumnRenamed("node", "src"), "src")
      val contrib = (if (weighted)
          probe.select(explode(col("ns")).as("e"), col("pr"), col("sw"))
            .select(col("e.dst").as("node"), expr("(pr * e.w) div sw").as("c"))
        else probe.select(col("ns"), expr("pr div size(ns)").as("c"))
            .select(explode(col("ns")).as("node"), col("c")))
        .groupBy(col("node")).agg(sum(col("c")).as("sc"))
      // symmetric: every node receives a contribution (mirror edges), so
      // contrib's key set is the node set — the re-key join is the
      // identity (skipped under a uniform teleport, inner otherwise)
      val keyed = if (symmetric && base.isDefined) contrib
        else basis.join(contrib, Seq("node"), if (symmetric) "inner" else "left")
      val sc = if (symmetric) "sc" else "coalesce(sc, 0L)"
      pr = keyed.select(col("node"), (base.fold(col("sb"))(lit(_)) +
        expr(s"(85 * ($sc$share)) div 100")).as("pr"))
      if ((dangling.isDefined || i % barrierEvery == 0) && i < iterations)
        pr = pr.localCheckpoint()
    }
    pr
  }

  /** HITS hubs/authorities (Kleinberg) over a directed edge list, fixed
    * rounds, MAX-normalized: after each mutual-reinforcement step the
    * vector is rescaled to floor(x·1000/max(x)) — top node exactly 1000.
    * Max normalization (not L2) keeps the quantized scores spread over
    * the full 0..1000 range regardless of node count: a unit-L2 vector
    * over 10⁶ nodes quantizes to all-zeros, a max-normalized one never
    * degrades. All sums are exact longs; the rescale is one double
    * division of exact-in-double values (numerator ≤ maxdeg·10⁶ ≪ 2⁵³) —
    * bit-reproducible cross-engine.
    *
    * Scale shape: the [[pageRank]] adjacency-index cost model, doubled
    * because HITS scatters in both directions — an IN-index (dst,
    * srcs[]) probed by the slim authority state and an OUT-index (src,
    * dsts[]) probed by the hub state; each round is two V-row equi-joins
    * with in-task explodes + partial-aggregated sums; the max is a 1-row
    * broadcast. Same degree-skew contract as [[bfsHops]]: one adjacency
    * array per node per executor row. Kept apart from [[rankRounds]]:
    * two opposite-direction indexes and a per-half-round max
    * normalization do not fit the single-index PageRank round.
    *
    * @param edges (src, dst) rows
    * @return (kind, node, score): kind ∈ {hub, authority}, score 0..1000;
    *         hubs are nodes with outgoing edges, authorities with incoming
    */
  def hits(edges: DataFrame, rounds: Int = 3): DataFrame = {
    require(rounds >= 1, "hits needs at least one round")
    // upstream edge derivation is scanned exactly ONCE (into the
    // out-index); the in-index re-derives the edge set from the
    // materialized V-row out-index via an in-task explode. Lazy barriers:
    // the in-index build materializes the out-index, the first round's
    // probe materializes the in-index.
    val outAdj = guardDegree(edges.select(col("src"), col("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull)
      .groupBy(col("src")).agg(collect_set(col("dst")).as("dsts")),
      "src", "dsts")
      .localCheckpoint(false)
    val inAdj = guardDegree(
      outAdj.select(col("src"), explode(col("dsts")).as("dst"))
        .groupBy(col("dst"))
        .agg(collect_set(col("src")).as("srcs")),
      "dst", "srcs").localCheckpoint(false)
    var auth = inAdj.select(col("dst").as("node"))
      .withColumn("a", lit(1000L))
    // always assigned on the first iteration (rounds >= 1): hubs are
    // recomputed from auth before any read
    var hub: DataFrame = null
    for (r <- 1 to rounds) {
      val hraw = inAdj.join(auth.withColumnRenamed("node", "dst"), "dst")
        .select(explode(col("srcs")).as("src"), col("a"))
        .groupBy(col("src")).agg(sum(col("a")).as("hr"))
      val hmax = hraw.agg(max(col("hr")).as("hm"))
      hub = hraw.crossJoin(broadcast(hmax))
        .select(col("src").as("node"),
          floor(col("hr") * 1000 / col("hm")).cast("long").as("h"))
        .localCheckpoint(false) // lazy: araw's probe materializes it
      val araw = outAdj.join(hub.withColumnRenamed("node", "src"), "src")
        .select(explode(col("dsts")).as("dst"), col("h"))
        .groupBy(col("dst")).agg(sum(col("h")).as("ar"))
      val amax = araw.agg(max(col("ar")).as("am"))
      auth = araw.crossJoin(broadcast(amax))
        .select(col("dst").as("node"),
          floor(col("ar") * 1000 / col("am")).cast("long").as("a"))
      // mid-run auth feeds the next round's hraw AND (via amax's broadcast
      // subtree) would be re-derived once per broadcast — without the
      // barrier lineage doubles per round. The LAST auth has exactly one
      // consumer (the output union), so it stays unmaterialized.
      if (r < rounds) auth = auth.localCheckpoint(false)
    }
    hub.select(lit("hub").as("kind"), col("node"), col("h").as("score"))
      .unionByName(auth.select(lit("authority").as("kind"), col("node"),
        col("a").as("score")))
  }

  /** In-row ORDERED co-occurrence pairs from per-group element sets:
    * each input row carries a distinct-element array (a collect_set
    * basket); emits (src, dst) with src < dst exactly once per unordered
    * pair — k(k−1)/2 generated rows where the double-explode-then-filter
    * form generates k² and discards half. The array is sorted in-row via
    * `sort_array` (a plain codegen expression — `array_sort`'s default
    * LAMBDA comparator is a higher-order function and CodegenFallback,
    * which splits the codegen span), so the tail slice after position i
    * holds exactly the elements greater than ps[i]; posexplode, Slice,
    * and the inner explode all stay in whole-stage codegen (the
    * [[graft.ops.RecordLinkage]] intra-block idiom). Arrays of size < 2
    * emit nothing with no guard needed: an empty array yields zero
    * posexplode rows, and the last position's slice length (size − __i −
    * 1, never negative since __i ≤ size − 1) is 0.
    *
    * @param sets  one row per group, `setCol` holding the distinct set
    * @return (src, dst) with src < dst, one row per in-group pair
    */
  def orderedPairs(sets: DataFrame, setCol: String): DataFrame =
    sets.select(sort_array(col(setCol)).as("__ps"))
      .select(posexplode(col("__ps")).as(Seq("__i", "src")), col("__ps"))
      .select(col("src"), explode(slice(col("__ps"), col("__i") + 2,
        size(col("__ps")) - col("__i") - 1)).as("dst"))

  /** The DISTINCT undirected edge set of in-row co-occurrence, mirrored
    * into both directions — the shared front half of every iterative
    * algorithm over the co-occurrence graph ([[pageRank]], [[bfsHops]]).
    * [[orderedPairs]] halves the generation feeding the distinct; the
    * distinct frame is localCheckpoint'ed BEFORE mirroring so the
    * k(k−1)/2 generation runs once and both directions (plus any seed
    * derivation on the same frame) read the slim materialized edges.
    *
    * @param sets one row per group, `setCol` holding the distinct set
    * @return (src, dst) distinct, both directions of every in-group pair
    */
  def undirectedEdges(sets: DataFrame, setCol: String): DataFrame = {
    // lazy only in its final stage: the localCheckpoint call itself opens a
    // SQL execution, and AQE's execute() materializes every shuffle stage
    // below it (the input's collect_set and this distinct) before it
    // returns. The first consumer then runs the final stage that fills
    // the checkpoint blocks.
    val und = orderedPairs(sets, setCol).distinct().localCheckpoint(false)
    und.unionByName(und.select(col("dst").as("src"), col("src").as("dst")))
  }

  /** Per-node triangle counts via DEGREE ORIENTATION — the standard trick
    * that makes distributed triangle enumeration tractable: direct every
    * undirected edge from its lower-(degree, id) endpoint to the higher
    * one, so each triangle is generated by exactly ONE wedge (at its
    * lowest-rank corner) and a hub of degree d contributes wedges bounded
    * by its OUT-degree, which orientation caps near √|E| — the naive
    * wedge count Σd² becomes Σd_out² ≈ O(|E|^1.5) worst-case, the
    * arboricity bound. Wedges close with one semi-join against the edge
    * set; counts are exact integers.
    *
    * @param edges (src, dst) rows, any direction/duplication — normalized
    *              to canonical undirected form internally
    * @return (node, n_triangles), one row per node in ≥1 triangle
    */
  def triangleCounts(edges: DataFrame, canonical: Boolean = false)
      : DataFrame = {
    val e = canonicalFrame(edges, canonical)
    triangleCountsOn(e, degreesOf(e))
  }

  /** Canonical simple undirected edge frame: (u < v), deduped, self-loops
    * dropped, checkpointed so every consumer reads the slim materialized
    * form instead of re-running the distinct. */
  private def canonicalUndirected(edges: DataFrame): DataFrame =
    edges
      .select(least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"))
      // lazy: every caller either counts it first (modularity, louvain —
      // the count materializes it) or chains all consumers into one
      // output job (block locks materialize it exactly once there)
      .filter(col("u") =!= col("v")).distinct().localCheckpoint(false)

  /** [[canonicalUndirected]] with a caller assertion (the `symmetric`/
    * `uniqueEdges` discipline): `canonical = true` asserts the input is
    * ALREADY src < dst, one row per pair, self-loop-free — e.g. an
    * [[orderedPairs]] per-pair aggregate — so the least/greatest
    * normalization and the full E-row distinct exchange are skipped and
    * only the multi-consumer checkpoint remains. Results are identical
    * on genuinely canonical input; assert it only by construction.
    *
    * SEAL: a wrong assertion here produces wrong answers, not an error —
    * so under `graft.graph.debugCanonical=true` (a debug conf, never set
    * on the bench path) the assertion is VERIFIED: an in-plan raise_error
    * on any row violating u < v, plus a driver-side duplicate-pair probe.
    * Cost lives only in debug mode. */
  private def canonicalFrame(edges: DataFrame, canonical: Boolean): DataFrame =
    if (canonical) {
      val f0 = edges.select(col("src").as("u"), col("dst").as("v"))
      val debug = edges.sparkSession.conf
        .get("graft.graph.debugCanonical", "false").toBoolean
      val f =
        if (!debug) f0
        else {
          val dups = f0.groupBy(col("u"), col("v"))
            .agg(count(lit(1)).as("n")).filter(col("n") > 1L).count()
          require(dups == 0L, s"canonicalFrame(canonical = true): $dups " +
            "duplicated (u, v) pairs — the caller's canonical assertion " +
            "is false; pass canonical = false")
          f0.select(
            when(col("u") < col("v"), col("u")).otherwise(raise_error(concat(
              lit("canonicalFrame(canonical = true): row violates u < v: ("),
              col("u").cast("string"), lit(", "), col("v").cast("string"),
              lit(") — the caller's canonical assertion is false"))))
              .as("u"),
            col("v"))
        }
      f.localCheckpoint(false)
    } else canonicalUndirected(edges)

  /** (n, d) undirected degree table of a canonical edge frame. */
  private def degreesOf(e: DataFrame): DataFrame =
    e.select(explode(array(col("u"), col("v"))).as("n"))
      .groupBy(col("n")).agg(count(lit(1)).as("d"))

  private def triangleCountsOn(e: DataFrame, deg: DataFrame): DataFrame =
    trianglesOf(e, deg)
      .select(explode(array(col("a"), col("b"), col("c"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("n_triangles"))

  /** Each triangle of a canonical edge frame exactly once, as (a, b, c)
    * with b < c (the [[triangleCounts]] degree-oriented enumeration).
    *
    * @param deg the frame's [[degreesOf]] table */
  private def trianglesOf(e: DataFrame, deg: DataFrame): DataFrame = {
    // orient: tail = (degree, id)-smaller endpoint
    val uLow = col("du") < col("dv") ||
      (col("du") === col("dv") && col("u") < col("v"))
    val dir = e
      .join(deg.select(col("n").as("u"), col("d").as("du")), Seq("u"))
      .join(deg.select(col("n").as("v"), col("d").as("dv")), Seq("v"))
      .select(when(uLow, col("u")).otherwise(col("v")).as("lo"),
        when(uLow, col("v")).otherwise(col("u")).as("hi"))
    // b < c by construction → (b, c) is already canonical for the close test
    dir.as("x").join(dir.as("y"),
        col("x.lo") === col("y.lo") && col("x.hi") < col("y.hi"))
      .select(col("x.lo").as("a"), col("x.hi").as("b"), col("y.hi").as("c"))
      .join(e, col("b") === col("u") && col("c") === col("v"), "left_semi")
  }

  /** Per-node LOCAL CLUSTERING COEFFICIENT over the simple undirected
    * graph: cc(v) = 2·tri(v) / (deg(v)·(deg(v)−1)) — the degree-
    * normalized cohesion readout raw triangle counts miss (a hub whose
    * neighbors never interconnect scores ~0; a clique corner scores 1).
    * The canonical edge frame is derived ONCE ([[canonicalUndirected]])
    * and its checkpointed form feeds the degree aggregate, the
    * [[triangleCounts]] orientation, and the wedge close — no second
    * distinct over the raw edges. The degree table is checkpointed too
    * (V rows) because it has two consumers (orientation join + final
    * join). EXACTNESS: cc is emitted as (2e6·tri) div (d·(d−1)) —
    * integer arithmetic end-to-end (the ·1e6 quantization discipline);
    * nodes of degree < 2 are excluded (coefficient undefined).
    *
    * @return (node, degree, n_triangles, cc_x6) for every node with
    *         degree ≥ 2; triangle-free nodes appear with 0
    */
  def clusteringCoefficient(edges: DataFrame, canonical: Boolean = false)
      : DataFrame = {
    val e = canonicalFrame(edges, canonical)
    val deg = degreesOf(e).localCheckpoint(false)
    val tri = triangleCountsOn(e, deg)
    deg.filter(col("d") >= 2)
      .join(tri, col("n") === col("node"), "left")
      .select(col("n").as("node"), col("d").as("degree"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"))
      .withColumn("cc_x6",
        expr("(2000000 * n_triangles) div (degree * (degree - 1))"))
  }

  /** One-row-per-node enforcement for label frames: duplicate (node, label)
    * rows would silently MULTIPLY through the u-/v-side edge joins of
    * [[modularity]] and [[contractGraph]] (double-counted intra_edges,
    * degree_sum, contraction weights) — so a node with more than one label
    * row fails loudly with its id (the contractGraph null-endpoint
    * discipline), never skews Q. One V-row aggregate, map-side combinable. */
  private def uniqueLabels(labels: DataFrame, who: String): DataFrame =
    labels.select(col("node"), col("label"))
      .groupBy(col("node"))
      .agg(min(col("label")).as("__l"), count(lit(1)).as("__n"))
      .select(col("node"),
        when(col("__n") > 1, raise_error(concat(
          lit(s"$who: duplicate label rows for node "),
          col("node").cast("string"),
          lit(" (labels must have exactly one row per node)"))))
          .otherwise(col("__l")).as("label"))

  /** MODULARITY of a node labeling over the simple undirected graph
    * (Newman–Girvan, public literature): Q = Σ_c [e_c/m − (d_c/2m)²]
    * with m the edge count, e_c the intra-community edge count and d_c
    * the community degree sum — the standard "did the labels actually
    * form communities" audit for [[labelPropagation]] output or any
    * domain/cluster assignment. Emitted PER COMMUNITY so the caller
    * sees which labels carry the structure; the total Q is the sum of
    * q_term_x9 (·1e-9).
    *
    * EXACTNESS: each term is (4m·e_c − d_c²)/(4m²); the numerator is
    * exact DECIMAL(38,0) (safe past 10¹² edges where long products
    * wrap), then ONE double multiply-divide chain + floor — both
    * engines round the same IEEE way ([[degreeAssortativity]]'s
    * discipline). Scale shape: one canonical-edge derivation feeds m,
    * the degree aggregate, and the two label joins; everything else is
    * a |labels|-bounded aggregate. Contract: nodes missing from
    * `labels` keep their edges in m and in labeled neighbors' degrees
    * but join into no community term (partial-coverage semantics,
    * documented rather than hidden).
    *
    * @param labels (node, label) — one row per node
    * @return (label, n_nodes, degree_sum, intra_edges, q_term_x9)
    */
  def modularity(edges: DataFrame, labels: DataFrame,
      canonical: Boolean = false): DataFrame = {
    val e = canonicalFrame(edges, canonical)
    val m = e.count() // control-plane scalar off the checkpoint
    modularityFromCanonical(e, m, labels)
  }

  /** [[modularity]] body on an ALREADY-canonical checkpointed edge frame
    * with its edge count. */
  private def modularityFromCanonical(e: DataFrame, m: Long,
      labels: DataFrame): DataFrame = {
    require(m > 0, "modularity needs at least one edge")
    // three consumers (u-side join, v-side join, degree rollup): one V-row
    // materialization beats re-deriving the label source thrice
    val lbl = uniqueLabels(labels, "modularity").localCheckpoint(false)
    val intra = e
      .join(lbl.select(col("node").as("u"), col("label").as("lu")), Seq("u"))
      .join(lbl.select(col("node").as("v"), col("label").as("lv")), Seq("v"))
      .filter(col("lu") === col("lv"))
      .groupBy(col("lu").as("label")).agg(count(lit(1)).as("intra_edges"))
    val byLabel = degreesOf(e)
      .join(lbl.withColumnRenamed("node", "n"), Seq("n"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_nodes"), sum(col("d")).as("degree_sum"))
    byLabel.join(intra, Seq("label"), "left")
      .select(col("label"), col("n_nodes"), col("degree_sum"),
        coalesce(col("intra_edges"), lit(0L)).as("intra_edges"))
      .withColumn("q_term_x9", qTerm(m, col("intra_edges"), col("degree_sum")))
  }

  /** One community's floor-quantized modularity term ·1e9:
    * (4m·intra − degsum²) in exact DECIMAL(38,0), then one double
    * multiply-divide and floor. */
  private def qTerm(m: Long, intra: Column, degsum: Column): Column =
    floor((lit(m).cast("decimal(38,0)") * 4 * intra -
      degsum.cast("decimal(38,0)") * degsum)
      .cast("double") * 1e9 / lit(4.0 * m.toDouble * m.toDouble))
      .cast("long")

  /** Multi-source BFS hop distance, bounded rounds: every node reachable
    * from a seed within `rounds` hops gets its exact hop distance; nodes
    * farther out (or unreachable) are absent. The workhorse behind
    * "distance to nearest promoted/flagged entity" features and blast-
    * radius audits. Semantics are DEFINED as the bounded-round frontier
    * expansion (the [[kCore]] discipline): a node at hop h ≤ rounds has
    * its final distance — extra rounds past the graph's eccentricity are
    * no-ops — so callers size `rounds` to the radius they care about.
    *
    * EXACTNESS: distances are integers produced only by min() and +1 —
    * no floats anywhere, bit-identical across engines and partitionings.
    *
    * Scale shape: FRONTIER expansion over the [[adjacency]] index
    * ([[frontierLayers]]): each round probes the index with the slim
    * frontier and explodes only the MATCHED adjacency lists — per-round
    * cost O(V + |edges(frontier)|), where joining the raw edge table
    * re-scans all E rows every round. A node's distance is final the
    * round it appears, so only nodes discovered in round r−1 expand in
    * round r; an EMPTY frontier short-circuits the remaining rounds on
    * the driver (rounds past the eccentricity were always no-ops).
    *
    * Degree-skew caveat: one adjacency array per node must fit in an
    * executor row (the collect_set contract) — fine through ~10⁷-degree
    * hubs; a web-scale hub graph should pre-cap degree or salt-split
    * hub rows upstream, the same contract as every collect_set here.
    *
    * @param edges (src, dst) rows; pass both directions for undirected
    * @param seeds (node) rows — the 0-distance sources
    * @param symmetric caller-asserted "every (src,dst) has its (dst,src)"
    *   (e.g. [[undirectedEdges]] output). Every in-graph node is then a
    *   src key, so seed validation is the semi-join alone: the sink-node
    *   remainder probe — and the seed checkpoint whose only second
    *   consumer it was — are skipped (two control jobs per query).
    *   Results are bit-identical on symmetric input.
    * @return (node, dist) for nodes reached within `rounds` hops
    */
  def bfsHops(edges: DataFrame, seeds: DataFrame, rounds: Int = 6,
      symmetric: Boolean = false): DataFrame = {
    require(rounds >= 1, "bfsHops needs at least one round")
    val adj = adjacency(edges)
    unionOf(frontierLayers(adj, seedsIn(adj, seeds, symmetric), rounds, Nil,
      sigma = false)._1, "node", "dist")
  }

  /** The BFS frontier kernel shared by [[bfsHops]], [[bfsPathCounts]],
    * [[betweennessDependencies]] and [[betweennessSampled]]: starting
    * from the layer-0 rows, each round probes the index with the current
    * frontier, drops already-reached nodes (anti-join against the union
    * of earlier layers) and materializes ONLY the new layer — it feeds
    * the next expansion, the anti-join and the result. Each layer is a
    * lazy barrier whose count is both its materialization and the
    * emptiness probe: one job per layer.
    *
    * With `sigma`, each layer also carries σ, the number of shortest
    * paths: all shortest paths to a dist-r node arrive through dist-(r−1)
    * neighbors, so σ is the per-round SUM over the frontier's σ and is
    * final the round a node first appears (contributions into
    * already-reached nodes are non-shortest arrivals the anti-join
    * drops). Each layer's σ is pinned by the [[longLoud]] guard.
    *
    * @param seeds (keys..., node) layer-0 rows
    * @param keys per-source key columns: empty for one multi-seed BFS,
    *   `Seq("s")` for a batch of independent BFS runs, one per s
    * @return every layer as (keys..., node, dist[, sigma]) rows, and
    *   whether an empty layer ended the expansion (then the last layer
    *   is that empty one)
    */
  private def frontierLayers(adj: DataFrame, seeds: DataFrame, rounds: Int,
      keys: Seq[String], sigma: Boolean): (Seq[DataFrame], Boolean) = {
    val id = keys :+ "node"
    val carried = (if (sigma) id :+ "sigma" else id).map(col)
    val d0 = seeds.withColumn("dist", lit(0L))
    val f0 = (if (sigma) d0.withColumn("sigma", lit(1L)) else d0)
      .localCheckpoint(false)
    val layers = scala.collection.mutable.ArrayBuffer(f0)
    var frontier = f0.select(carried: _*)
    var r = 1
    var done = f0.count() == 0L
    while (r <= rounds && !done) {
      val reached = unionOf(layers.toSeq, id: _*)
      val probe = adj.join(frontier.withColumnRenamed("node", "src"), Seq("src"))
        .select(keys.map(col) ++ (explode(col("ns")).as("node") +:
          (if (sigma) Seq(col("sigma")) else Nil)): _*)
      val arrived =
        if (!sigma) probe.distinct()
        else probe.groupBy(id.map(col): _*)
          .agg(sum(col("sigma")).as("sigma"))
          .withColumn("sigma", longLoud(col("sigma"), "sigma"))
      val newly = arrived.join(reached, id, "left_anti")
        .withColumn("dist", lit(r.toLong))
        .localCheckpoint(false)
      layers += newly
      frontier = newly.select(carried: _*)
      done = newly.count() == 0L
      r += 1
    }
    (layers.toSeq, done)
  }

  /** The union of per-layer frames, each projected to `cols`. */
  private def unionOf(layers: Seq[DataFrame], cols: String*): DataFrame =
    layers.map(_.select(cols.map(col): _*)).reduce(_.unionByName(_))

  /** [[frontierLayers]] with σ, cut at the real horizon: `done` ⇒ the
    * LAST layer is empty, so it is dropped and the backward pass starts
    * from a populated layer (an all-empty BFS keeps f0: the union and the
    * δ=0 base case are both well-defined on it). */
  private def sigmaFrontier(adj: DataFrame, seeds: DataFrame, rounds: Int,
      keys: Seq[String]): Seq[DataFrame] = {
    val (ls, done) = frontierLayers(adj, seeds, rounds, keys, sigma = true)
    if (done && ls.size > 1) ls.init else ls
  }

  /** Multi-source BFS with SHORTEST-PATH COUNTS: every node within
    * `rounds` hops gets its exact hop distance AND σ = the number of
    * distinct shortest paths from the seed set — the integer-exact core
    * of centrality/robustness analysis (σ = 1 means a single fragile
    * route to the flagged set; large σ means redundancy) and the forward
    * pass of Brandes' betweenness. Same bounded-round contract and
    * frontier-over-adjacency-index shape as [[bfsHops]]; the only
    * addition is a per-round SUM over the frontier's σ values
    * ([[frontierLayers]]).
    *
    * EXACTNESS: σ is integer sums only, in BIGINT accumulators (primitive
    * hash-agg buffers) — path counts compound multiplicatively with depth
    * (branching^rounds), so past the 2⁶² layer guard ([[longLoud]]) or a
    * 2⁶³ ANSI sum overflow the query fails loudly rather than wrapping.
    * Multi-seed semantics: seeds sit at distance 0 with σ = 1; a node's
    * σ totals shortest paths from ALL nearest seeds.
    *
    * @return (node, dist, sigma) for nodes reached within `rounds` hops
    */
  def bfsPathCounts(edges: DataFrame, seeds: DataFrame, rounds: Int = 4,
      symmetric: Boolean = false): DataFrame =
    unionOf(sigmaLayers(edges, seeds, rounds, symmetric)._2,
      "node", "dist", "sigma")

  /** 2⁶² loud ceiling for the long-typed σ/δ accumulators (the
    * bigintLoud discipline pushed inside the operator): every layer's
    * aggregate output is pinned ≤ 2⁶², so no single downstream add can
    * silently pass 2⁶³ — and ANSI mode (Spark 4 default, asserted at
    * operator entry by [[requireAnsi]]) makes the long SUM itself throw
    * on overflow, never wrap. The operating envelope is 2⁶², which the
    * output seam's BIGINT presentation caps at 2⁶³ anyway; in exchange
    * the hot per-layer aggregates run on primitive long hash-agg
    * buffers. */
  private val loudCeil = 1L << 62
  private def longLoud(c: Column, what: String): Column =
    when(c > lit(loudCeil) || c < 0L,
      raise_error(concat(
        lit(s"$what overflows the 2^62 long-accumulator guard: "),
        c.cast("string"))).cast("long"))
      .otherwise(c)
  private def requireAnsi(df: DataFrame, op: String): Unit =
    require(df.sparkSession.conf.get("spark.sql.ansi.enabled", "true")
        .toBoolean,
      s"$op: long-typed sigma/delta accumulators need spark.sql.ansi." +
        "enabled=true (loud long-sum overflow instead of a silent wrap)")

  /** Shared forward pass of [[bfsPathCounts]] / [[betweennessDependencies]]:
    * the checkpointed adjacency index plus one checkpointed (node, dist,
    * sigma) frame PER BFS LAYER (the backward pass needs the layer
    * structure, not just the union). */
  private def sigmaLayers(edges: DataFrame, seeds: DataFrame, rounds: Int,
      symmetric: Boolean): (DataFrame, Seq[DataFrame]) = {
    require(rounds >= 1, "bfsPathCounts needs at least one round")
    requireAnsi(edges, "bfsPathCounts")
    val adj = adjacency(edges)
    (adj, sigmaFrontier(adj, seedsIn(adj, seeds, symmetric), rounds, Nil))
  }

  /** Betweenness-centrality dependencies — Brandes' BACKWARD pass over the
    * multi-source BFS DAG of [[bfsPathCounts]] (Brandes 2001): walking
    * layers deepest-first,
    *
    *   δ(v) = Σ_{w ∈ succ(v)} σ(v)/σ(w) · (1 + δ(w)),
    *
    * succ(v) = neighbors of v one layer deeper. δ ranks CUT VERTICES —
    * the nodes most shortest-path traffic from the seed set flows
    * through — the standard graph-curation ask after PageRank.
    *
    * EXACTNESS: δ is carried in 1e9 units as BIGINT; each term is
    * [[graft.functions.BrandesTerm]] — ⌊σv·(10⁹+δw_x9)/σw⌋ with the
    * product in 128-bit arithmetic, failing LOUDLY past BIGINT (never a
    * silent null/wrap; the [[longLoud]] 2⁶² layer guard keeps every
    * input inside the safe range) — and per-node sums are order-free
    * integer sums, bit-identical across engines and layouts. Truncation
    * composes deterministically layer by layer, so a SQL oracle replays
    * the exact bits with 128-bit `//`.
    *
    * Scale shape: the forward pass is [[bfsPathCounts]] (V-row adjacency
    * index, one probe per layer); the backward pass
    * ([[brandesBackward]]) runs the SAME probe per layer in reverse.
    * Bounded rounds ⇒ bounded (2·rounds) joins total. Like the forward
    * σ, δ of the horizon layer is DEFINED over the truncated DAG: nodes
    * past `rounds` hops contribute nothing (callers size `rounds` to the
    * radius they care about — the [[kCore]] discipline).
    *
    * @return (node, dist, sigma, delta_x9) for nodes within `rounds` hops
    */
  def betweennessDependencies(edges: DataFrame, seeds: DataFrame,
      rounds: Int = 4, symmetric: Boolean = false): DataFrame = {
    val (adj, layers) = sigmaLayers(edges, seeds, rounds, symmetric)
    unionOf(brandesBackward(adj, layers, Nil),
      "node", "dist", "sigma", "delta_x9")
  }

  /** Brandes' backward pass over [[frontierLayers]] σ layers, keyed like
    * them (`keys` empty: one merged DAG; `Seq("s")`: one DAG per
    * source). Layer d's nodes probe the index, matched adjacency lists
    * explode in-task, and the join with layer d+1's state keeps only DAG
    * successors of the same source; one map-side-combinable aggregate
    * per layer. Every state is a lazy barrier read by the next-shallower
    * round and by the caller's union — both land in the single job the
    * output action runs, so the whole pass is one job.
    *
    * @return the (keys..., node, dist, sigma, delta_x9) state per layer,
    *   shallowest first
    */
  private def brandesBackward(adj: DataFrame, layers: Seq[DataFrame],
      keys: Seq[String]): List[DataFrame] = {
    val ks = keys.map(col)
    val zero = lit(0L)
    var states = List(layers.last.withColumn("delta_x9", zero)
      .localCheckpoint(false))
    for (d <- layers.size - 2 to 0 by -1) {
      val next = states.head.select(ks ++ Seq(col("node").as("w"),
        col("sigma").as("__sw"), col("delta_x9").as("__dw")): _*)
      val terms = adj
        .join(layers(d).select(ks ++ Seq(col("node").as("src"),
          col("sigma").as("__sv")): _*), Seq("src"))
        .select(ks ++ Seq(col("src").as("node"), col("__sv"),
          explode(col("ns")).as("w")): _*)
        .join(next, keys :+ "w") // keeps only successors (dist = d+1)
        .select(ks ++ Seq(col("node"),
          graft.functions.BrandesTerm(col("__sv"), col("__dw"), col("__sw"))
            .as("__t")): _*)
        .groupBy(ks :+ col("node"): _*)
        .agg(sum(col("__t")).as("__dsum"))
      states = layers(d)
        .join(terms, keys :+ "node", "left")
        // longLoud is null-transparent (a null sum falls to the otherwise
        // branch), so the guard composes with the left-join coalesce
        .select(ks ++ Seq(col("node"), col("dist"), col("sigma"),
          coalesce(longLoud(col("__dsum"), "delta_x9"), zero)
            .as("delta_x9")): _*)
        .localCheckpoint(false) :: states
    }
    states
  }

  /** SAMPLED-SOURCE betweenness — the form a 100 TB graph actually runs
    * (Brandes/Pich 2007 pivot estimation): exact Brandes from `k`
    * deterministic sample sources (the k nodes with the smallest
    * unsigned md5 of their id — content-keyed, so an external engine
    * replays the identical sample), each source's dependency kept
    * INDEPENDENT (unlike [[betweennessDependencies]], whose multi-source
    * BFS merges the seed set into one DAG), then
    *
    *   bet_est(v) = (n / k) · Σ_{s ∈ S} δ_s(v),   v ∉ S endpoints excluded
    *
    * in truncated-integer 1e9 units: est_x9 = (Σ δ_s(v)_x9 · n) div k —
    * bit-identical everywhere, exact betweenness×1e9 when k = n.
    *
    * Scale shape: all k sources run SIMULTANEOUSLY as one batched BFS —
    * the [[frontierLayers]] / [[brandesBackward]] kernels keyed by s, so
    * state rows are (s, node, dist, sigma) and the per-layer cost is the
    * SAME bounded probe-explode-aggregate as the single BFS with k× the
    * state rows, not k sequential passes (2·rounds joins total, not
    * 2·rounds·k). The estimator is how betweenness stays subquadratic:
    * exact Brandes is O(V·E); k ≪ V sampled sources cost O(k·E)-ish work
    * for an unbiased estimate, and accuracy buys more samples, not a
    * bigger join.
    *
    * @param edges (src, dst); pass both directions for undirected
    * @param k     number of sampled sources (clamped to |V|)
    * @param rounds BFS horizon per source ([[bfsPathCounts]] contract)
    * @return (node, delta_sum_x9, bet_est_x9) for nodes reached from any
    *         sampled source (as non-endpoint); delta_sum_x9 BIGINT,
    *         bet_est_x9 DECIMAL(38,0) (the n/k blow-up can top 2⁶³)
    */
  def betweennessSampled(edges: DataFrame, k: Int, rounds: Int = 4,
      symmetric: Boolean = false): DataFrame = {
    require(k >= 1, "betweennessSampled needs at least one source")
    require(rounds >= 1, "betweennessSampled needs at least one round")
    requireAnsi(edges, "betweennessSampled")
    val adj = adjacency(edges)
    // a checkpointed node set in both modes (unlike [[nodesOf]]): the
    // count and the sample's TakeOrdered both read it
    val nodes = (if (symmetric) adj.select(col("src").as("node"))
      else adj.select(col("src").as("node")).unionByName(neighborIds(adj)))
      .distinct().localCheckpoint(false)
    val n = nodes.count()
    // deterministic sample: k smallest unsigned-md5 node ids (the ANN
    // seed discipline — replayable as ORDER BY md5_number_lower LIMIT k).
    // NOT checkpointed: the first layer is its only consumer and is
    // materialized itself, so the TakeOrdered runs exactly once.
    val srcs = nodes
      .withColumn("__m", unsignedMd5(col("node").cast("string")))
      .orderBy(col("__m"), col("node"))
      .limit(k)
      .select(col("node").as("s"))
    val layers = sigmaFrontier(adj,
      srcs.select(col("s"), col("s").as("node")), rounds, Seq("s"))
    unionOf(brandesBackward(adj, layers, Seq("s")), "s", "node", "delta_x9")
      .filter(col("node") =!= col("s")) // endpoints excluded (Brandes)
      .groupBy(col("node"))
      .agg(sum(col("delta_x9")).as("delta_sum_x9"))
      .withColumn("delta_sum_x9", longLoud(col("delta_sum_x9"), "delta_sum_x9"))
      // integer (n/kEff) estimator: `div` is integral division (Spark
      // returns LONG for it — quotients past 2⁶³ are out of the
      // presentation contract anyway; queries re-cast and guard at the
      // output seam). kEff = min(k, n) is the number of sources ACTUALLY
      // sampled (limit(k) over n nodes) — dividing by the requested k
      // when k > n would deflate the estimate and break the
      // exact-when-every-node-sampled property.
      .withColumn("bet_est_x9",
        expr(s"CAST((delta_sum_x9 * CAST($n AS DECIMAL(38,0))) " +
          s"div ${math.min(k.toLong, n)}L AS DECIMAL(38,0))"))
  }

  /** Personalized PageRank: the random surfer teleports to a SEED SET
    * instead of everywhere — scores measure proximity to the seeds, the
    * standard seed-expansion primitive for data curation ("rank the
    * catalog by closeness to the curated/flagged set", "expand a seed
    * domain list through the link graph").
    *
    * EXACTNESS: the [[pageRank]] integer contract. Teleport mass lives
    * only on seeds — pr₀ = 1e12 div |S| on seeds (0 elsewhere), and each
    * round pr' = [seed]·(0.15·1e12 div |S|) + (85·Σcontrib) div 100 —
    * so every step is integer arithmetic, bit-identical across engines
    * and partition layouts. Non-seed nodes with no inbound mass sit at
    * exactly 0.
    *
    * Scale shape: identical to [[pageRank]] ([[rankRounds]]). The only
    * addition is the (node, seed-base) frame, built once by a
    * left-semi-derived flag join and checkpointed: per-round cost is
    * unchanged. |S| counts only seeds PRESENT in the graph (a seed with
    * no edges can neither give nor receive mass through the walk; callers
    * wanting strict teleport semantics over absent seeds should union
    * them in as isolated self-loop nodes explicitly).
    *
    * @param edges (src, dst) rows; pass both directions for undirected
    * @param seeds (node) rows — the teleport set; must intersect the graph
    * @param symmetric caller-asserted mirrored edge set ([[pageRank]]):
    *   skips the sink-node union and the dangling left join
    * @return (node, pr) — pr in 1e12 units
    */
  def personalizedPageRank(edges: DataFrame, seeds: DataFrame,
      iterations: Int = 5, symmetric: Boolean = false): DataFrame = {
    require(iterations >= 1, "personalizedPageRank needs at least one iteration")
    val adj = adjacency(edges)
    val nodes = nodesOf(adj, symmetric)
    val sd = seeds.select(col("node")).distinct()
      .join(nodes, Seq("node"), "left_semi")
    // (node, __s) seed flag — checkpointed once (lazily: the |S| count is
    // the first consumer and materializes it), consumed every round
    val flagged = nodes.join(sd.withColumn("__s", lit(1)), Seq("node"), "left")
      .localCheckpoint(false)
    val nSeeds = flagged.filter(col("__s").isNotNull).count()
    require(nSeeds >= 1, "personalizedPageRank: no seed is present in the graph")
    // lazy projections of the one checkpoint
    def seedShare(mass: Long): Column =
      when(col("__s").isNotNull, lit(mass / nSeeds)).otherwise(lit(0L))
    rankRounds(adj, flagged.select(col("node"), seedShare(150000000000L).as("sb")),
      flagged.select(col("node"), seedShare(1000000000000L).as("pr")),
      iterations, symmetric, base = None)
  }

  /** WEIGHTED PageRank: each node's rank splits across its out-edges in
    * proportion to edge WEIGHT instead of uniformly — affinity-weighted
    * centrality ("rank parts by co-purchase strength, not just co-purchase
    * existence"; domains by link count, not link existence).
    *
    * EXACTNESS: the [[pageRank]] integer contract with the per-edge share
    * `contrib = (pr·w) div sw` (sw = the node's exact out-weight sum) —
    * still pure integer arithmetic, bit-identical across engines and
    * layouts. OVERFLOW CONTRACT: pr ≤ 1e12, so per-edge weights must stay
    * below ~9·10⁶ (pr·w < 2⁶³) — quantize affinity ratios into that range;
    * counts/frequencies fit naturally. Zero-or-negative weights are
    * dropped with their edges (a zero-weight edge carries no mass and
    * would only pad the index).
    *
    * Scale shape: identical to [[pageRank]] — (dst, w)-struct adjacency
    * index with the out-weight sum folded into the SAME build exchange
    * (no per-round weight aggregation, no higher-order functions), rounds
    * chain lazily, one V-row state join + in-task explode +
    * partial-aggregated sum per round.
    *
    * @param edges (src, dst, w) rows, w positive integral; pass both
    *              directions for undirected
    * @param symmetric caller-asserted mirrored edge set ([[pageRank]])
    * @param uniqueEdges caller-asserted unique (src, dst) — skips the
    *   parallel-edge weight-SUM collapse ([[ssspWeighted]]'s flag; here
    *   parallel edges ADD affinity rather than taking the min)
    * @return (node, pr) — pr in 1e12 units
    */
  def pageRankWeighted(edges: DataFrame, iterations: Int = 5,
      symmetric: Boolean = false, uniqueEdges: Boolean = false): DataFrame = {
    require(iterations >= 1, "pageRankWeighted needs at least one iteration")
    val typed = edges
      .select(col("src"), col("dst"), col("w").cast("long").as("w"))
      .filter(col("src").isNotNull && col("dst").isNotNull && col("w") > 0)
    val summed = if (uniqueEdges) typed
      else typed.groupBy(col("src"), col("dst")).agg(sum(col("w")).as("w"))
    uniformRank(adjacency(summed, weightedNs, Seq(sum(col("w")).as("sw"))),
      iterations, symmetric, redistributeDangling = false)
  }

  /** Bounded-round single-source(-set) shortest paths over NON-NEGATIVE
    * integer edge weights — synchronous Bellman–Ford relaxation: after r
    * rounds every node holds the exact minimum path cost over paths of
    * ≤ r edges from the nearest seed (the [[bfsHops]] bounded-semantics
    * discipline; extra rounds past the weighted eccentricity are no-ops).
    * The weighted generalization of [[bfsHops]]: "cheapest route to a
    * flagged entity" where hops are not equal cost.
    *
    * EXACTNESS: costs are longs produced only by min() and addition of
    * non-negative long weights — bit-identical across engines and
    * layouts. Parallel edges collapse to their MINIMUM weight (the only
    * one shortest paths can use). Callers keep Σweights along any path
    * below 2⁶³ — the practical contract for any quantized cost.
    *
    * Scale shape: the adjacency index carries (dst, w) structs plus a
    * ZERO-WEIGHT SELF-EDGE per node — built in one exchange from unique
    * edges (two with the parallel-edge collapse) and checkpointed, since
    * every round's join consumes it. Each round is then ONE exchange: the
    * state right-joins the index and a single plain-codegen explode emits
    * every node's relaxed neighbors AND (via the self-edge) its own cost,
    * so a min-aggregate both relaxes and carries unimproved state — the
    * previous round is consumed exactly ONCE, lineage stays linear, and
    * rounds chain LAZILY into a single job (the [[pageRank]] shape; state
    * checkpoints only every [[barrierEvery]] rounds). The full-relaxation
    * form beats a delta-frontier form (probe with only improved nodes,
    * checkpoint + merge + empty-probe per round) whenever per-round
    * barriers cost more than the explode saves — revisit only for graphs
    * whose diameter ≫ rounds. The self-edge also makes each round EXACTLY
    * the oracle's full-relaxation CTE, not just equivalent to it.
    *
    * @param edges (src, dst, w) rows, w a non-negative integral column;
    *              pass both directions for undirected
    * @param seeds (node) rows — cost-0 sources
    * @param symmetric caller-asserted mirrored edge set: seed validation
    *   is the src-key semi-join alone ([[bfsHops]] contract)
    * @param uniqueEdges caller-asserted "(src, dst) appears at most once"
    *   (e.g. a per-pair aggregate's output) — skips the min-per-(src,dst)
    *   parallel-edge collapse, one full E-row exchange. Results are
    *   identical on already-unique input; duplicated input under this
    *   flag would duplicate adjacency entries (harmless for min-cost but
    *   wasted work), so assert it only by construction.
    * @return (node, cost) for nodes reachable within `rounds` edges
    */
  def ssspWeighted(edges: DataFrame, seeds: DataFrame, rounds: Int = 4,
      symmetric: Boolean = false, uniqueEdges: Boolean = false): DataFrame = {
    require(rounds >= 1, "ssspWeighted needs at least one round")
    val typed = edges
      .select(col("src"), col("dst"), col("w").cast("long").as("w"))
      .filter(col("src").isNotNull && col("dst").isNotNull && col("w") >= 0)
    val minEdges = if (uniqueEdges) typed
      else typed.groupBy(col("src"), col("dst")).agg(min(col("w")).as("w"))
    // the ZERO-WEIGHT SELF-EDGE is appended once, inside the index build:
    // relaxing it re-emits the node's own cost, so each round's "carry
    // unimproved state" candidate comes out of the SAME plain-codegen
    // explode as the neighbors (a per-round transform()+concat() would be
    // a CodegenFallback higher-order function allocating per node)
    val adj = adjacency(minEdges, concat(weightedNs,
      array(struct(col("src").as("dst"), lit(0L).as("w")))))
    var dist = seedsIn(adj, seeds, symmetric).withColumn("cost", lit(0L))
    for (r <- 1 to rounds) {
      // right join: every reached node survives (explode_outer + coalesce
      // cover the sink-only nodes with no index row — their "self-edge"
      // is synthesized from the null match); each node emits its relaxed
      // neighbors AND its own cost via the baked-in self-edge, so the
      // round is one plain-codegen Generate + one exchange and the state
      // has exactly one consumer
      dist = adj.join(dist.withColumnRenamed("node", "src"), Seq("src"), "right")
        .select(col("src"), col("cost"), explode_outer(col("ns")).as("e"))
        .select(coalesce(col("e.dst"), col("src")).as("node"),
          (col("cost") + coalesce(col("e.w"), lit(0L))).as("c"))
        .groupBy(col("node")).agg(min(col("c")).as("cost"))
      if (r % barrierEvery == 0 && r < rounds) dist = dist.localCheckpoint()
    }
    dist
  }

  /** Synchronous label propagation (community detection), fixed rounds,
    * DETERMINISTIC: every node starts labeled with its own id; each round
    * it adopts the label held by the most of its in-neighbors, ties
    * broken toward the SMALLEST label; nodes with no in-neighbors keep
    * their label. Bounded-round semantics ([[bfsHops]]): the result is
    * DEFINED as the state after `rounds` synchronous steps — sync LPA
    * can 2-cycle on bipartite structure, so convergence is not the
    * contract, the fixed round count is. The cheap community pass for
    * corpus mixing / domain clustering where modularity-grade output
    * isn't worth a 100× costlier algorithm.
    *
    * EXACTNESS: labels are ids, updates are integer counts + an ordered
    * argmax — bit-identical across engines and partition layouts. The
    * argmax is one aggregate, not a per-node window: min over the packed
    * (−count, label) atom ([[ArgmaxPack]]) picks
    * max-count-then-min-label for any id sign, so the plan stays two
    * map-side-combinable HASH exchanges per round (counts to the
    * (node, label) axis, then the atom-min to nodes).
    *
    * Scale shape: the [[pageRank]] adjacency-index cost model — V-row
    * index probed by the slim (node, label) state, matched lists exploded
    * in-task. The (node, label) count frame is bounded by
    * Σ|edges(frontier)| per round, never materializing the E-row edge
    * table again. On the symmetric path the state has exactly one
    * consumer per round, so rounds chain lazily into a single job; the
    * general path's keep-old merge adds a second consumer and a per-round
    * checkpoint barrier with it. Kept apart from [[moveRounds]]: a plain
    * count argmax with no community totals or modularity score.
    *
    * Small-graph tier: when the ids are `long`/`int`, the edge frame is
    * deterministic and it has at most [[LocalMaxEdges]] non-null
    * (src, dst) rows, the rows are collected once ([[localPairs]]) and the
    * graph is built and every round run on the driver ([[localLabels]])
    * with the same synchronous semantics, the same argmax order and the
    * same `graft.graph.maxDegree` error; the result is a local frame with
    * the loop's schema and rows. The tier reads `edges` twice (a row
    * count, then the collect), so pass a barriered frame —
    * [[undirectedEdges]] output is one. A larger graph pays the row count
    * and runs the distributed loop; other id types and a nondeterministic
    * frame go to the loop directly. A co-occurrence graph is cheaper
    * through [[coOccurrenceLabels]], which takes its membership rows.
    *
    * @param edges (src, dst) rows; pass both directions for undirected
    * @param symmetric caller-asserted mirrored edge set: the node set is
    *   the src key set and every node has in-neighbors, so the keep-old
    *   left join is the identity — inner merge, one exchange less
    * @return (node, label) after `rounds` steps
    */
  def labelPropagation(edges: DataFrame, rounds: Int = 3,
      symmetric: Boolean = false): DataFrame =
    labelPropagation(edges, rounds, symmetric, LocalMaxEdges)

  /** Edges up to which a graph kernel collects its input and solves on
    * the driver instead of running distributed rounds, 2²⁰: non-null edge
    * rows in [[labelPropagation]], undirected pairs in
    * [[Dedup.connectedComponents]], membership rows and mirrored pairs in
    * [[coOccurrenceLabels]]. */
  private[ops] val LocalMaxEdges = 1L << 20

  /** The non-null (a, b) rows of a `long`/`int`-id edge frame when there
    * are at most `max` of them, as one primitive array per partition
    * holding a₀, b₀, a₁, b₁, …; None above `max`. Two narrow jobs: the
    * row count (per-partition counts added on the driver — a global count
    * would cost a map stage and a result job), then the collect, so
    * `edges` is read twice. A nondeterministic frame could give the
    * collect other rows than the count saw, so it gets None without a
    * job; a checkpointed frame is deterministic. */
  private[ops] def localPairs(edges: DataFrame, a: String, b: String,
      max: Long): Option[Array[Array[Long]]] = {
    if (!edges.queryExecution.analyzed.deterministic) return None
    import edges.sparkSession.implicits._
    val pairs = edges.filter(col(a).isNotNull && col(b).isNotNull)
      .select(col(a).cast("long"), col(b).cast("long")).as[(Long, Long)]
    if (pairs.mapPartitions(it => Iterator.single(it.size.toLong)).collect().sum > max)
      None
    else Some(pairs.mapPartitions { it =>
      val packed = new scala.collection.mutable.ArrayBuilder.ofLong
      it.foreach { case (u, v) => packed += u; packed += v }
      Iterator.single(packed.result())
    }.collect())
  }

  /** [[labelPropagation]] with the tier threshold explicit — specs force
    * the distributed loop with `localMaxEdges = 0`. */
  private[ops] def labelPropagation(edges: DataFrame, rounds: Int,
      symmetric: Boolean, localMaxEdges: Long): DataFrame = {
    require(rounds >= 1, "labelPropagation needs at least one round")
    val idType = edges.schema("src").dataType
    val integral = (idType == LongType || idType == IntegerType) &&
      edges.schema("dst").dataType == idType
    val local = if (integral && localMaxEdges > 0)
      localPairs(edges, "src", "dst", localMaxEdges) else None
    if (local.isDefined)
      return localLabels(edges.sparkSession, local.get, idType, rounds, symmetric)
    val adj = adjacency(edges)
    var lab = nodesOf(adj, symmetric).select(col("node"), col("node").as("label"))
    for (r <- 1 to rounds) {
      val cnt = adj.join(lab.withColumnRenamed("node", "src"), "src")
        .select(explode(col("ns")).as("node"), col("label"))
        .groupBy(col("node"), col("label")).agg(count(lit(1)).as("c"))
      // packed hash argmax ([[ArgmaxPack]]): c is a physical row count —
      // always inside the 2^61 packing guard
      val best = cnt
        .groupBy(col("node"))
        .agg(min(ArgmaxPack.atom(col("c"), col("label"))).as("__a"))
        .select(col("node"), ArgmaxPack.label(col("__a")).as("label"))
      lab = (if (symmetric) best
        else lab.select(col("node"), col("label").as("__old"))
          .join(best, Seq("node"), "left")
          .select(col("node"), coalesce(col("label"), col("__old")).as("label")))
      // general path: lab feeds both the next probe and the keep-old merge
      // — without the barrier lineage doubles per round; lazy: both
      // consumers sit in the next round's plan, so the first stage that
      // needs it materializes it. Symmetric path: one consumer per round.
      if (!symmetric && r < rounds) lab = lab.localCheckpoint(false)
    }
    lab
  }

  /** [[labelPropagation]] over the co-occurrence graph of a membership
    * frame: defined as, and giving the same rows and schema as,
    * `labelPropagation(undirectedEdges(members.groupBy(group)
    * .agg(collect_set(member).as("ps")), "ps"), rounds, symmetric = true)`.
    * Two members are neighbors when some group holds both; a null member
    * is in no group, and the null group is one group.
    *
    * Small-graph tier, one step upstream of [[labelPropagation]]'s: when
    * [[localCoOccurrence]] builds the mirrored pairs on the driver (both
    * columns `long`/`int`, a deterministic frame, at most
    * [[LocalMaxEdges]] membership rows and mirrored pairs), they go
    * straight to the driver rounds ([[localLabels]]): two narrow jobs, no
    * shuffle, no checkpoint. Otherwise it runs exactly that distributed
    * expression, edge tier included; a graph refused by the sizing job
    * pays that one job on top.
    *
    * @param members (group, member) rows, any duplication
    * @return (node, label) after `rounds` steps, node typed as `member`
    */
  def coOccurrenceLabels(members: DataFrame, group: String, member: String,
      rounds: Int): DataFrame =
    coOccurrenceLabels(members, group, member, rounds, LocalMaxEdges)

  /** [[coOccurrenceLabels]] with the tier threshold explicit — specs force
    * the distributed loop, past both tiers, with `localMax = 0`. */
  private[ops] def coOccurrenceLabels(members: DataFrame, group: String,
      member: String, rounds: Int, localMax: Long): DataFrame = {
    require(rounds >= 1, "labelPropagation needs at least one round")
    val local = if (localMax > 0)
      localCoOccurrence(members, group, member, localMax) else None
    local match {
      case Some(pairs) => localLabels(members.sparkSession, pairs,
        members.select(col(member)).schema.head.dataType, rounds, symmetric = true)
      case None => labelPropagation(undirectedEdges(members.groupBy(col(group))
        .agg(collect_set(col(member)).as("ps")), "ps"), rounds, symmetric = true,
        localMax)
    }
  }

  /** The mirrored co-occurrence pairs of a membership frame — both
    * directions of every pair of distinct members sharing a group, packed
    * as [[localPairs]] packs its rows — when both columns are
    * `long`/`int`, the frame is deterministic, and it has at most `max`
    * non-null-member rows and at most `max` mirrored pairs,
    * Σ k(k − 1) over the groups with k a group's distinct members; None
    * otherwise. Two narrow jobs read `members`: a sizing job, whose tasks
    * stop reading past `max` rows and add up Σ k(k − 1) over their own
    * rows (a lower bound of the true Σ, since a group's rows may span
    * partitions), then the collect of the rows. The driver groups them
    * ([[MemberSets]]), checks the exact Σ and emits the pairs. */
  private[ops] def localCoOccurrence(members: DataFrame, group: String,
      member: String, max: Long): Option[Array[Array[Long]]] = {
    val types = members.select(col(group), col(member)).schema.map(_.dataType)
    if (!types.forall(t => t == LongType || t == IntegerType) ||
        !members.queryExecution.analyzed.deterministic) return None
    import members.sparkSession.implicits._
    val bound = math.min(max, Int.MaxValue / 2) // the pairs fill one array
    val rows = members.filter(col(member).isNotNull)
      .select(col(group).isNull, coalesce(col(group).cast("long"), lit(0L)),
        col(member).cast("long"))
      .as[(Boolean, Long, Long)]
    val sized = rows.mapPartitions { it =>
      val sets = new MemberSets
      while (it.hasNext && sets.rows <= bound) {
        val (nullGroup, g, m) = it.next()
        sets.add(nullGroup, g, m)
      }
      Iterator.single((sets.rows.toLong, if (sets.rows > bound) 0L else sets.pairs))
    }.collect()
    if (sized.map(_._1).sum > bound || sized.map(_._2).sum > bound) return None
    val sets = new MemberSets
    rows.mapPartitions { it =>
      val packed, nulls = new scala.collection.mutable.ArrayBuilder.ofLong
      it.foreach { case (nullGroup, g, m) =>
        if (nullGroup) nulls += m else { packed += g; packed += m }
      }
      Iterator.single((packed.result(), nulls.result()))
    }.collect().foreach { case (packed, nulls) =>
      for (i <- 0 until packed.length by 2) sets.add(false, packed(i), packed(i + 1))
      nulls.foreach(sets.add(true, 0L, _))
    }
    if (sets.pairs > bound) None else Some(Array(sets.mirrored))
  }

  /** (group, member) rows gathered on primitive arrays for
    * [[localCoOccurrence]]: groups and members get dense indices
    * ([[DenseIds]]), the null-group rows form one group of their own, as
    * `groupBy` makes them, and each group keeps its distinct members, as
    * `collect_set` does ([[keyedSets]]). */
  private final class MemberSets {
    private val groups = new DenseIds
    private val members = new DenseIds
    private val grp = new scala.collection.mutable.ArrayBuilder.ofInt
    private val mem = new scala.collection.mutable.ArrayBuilder.ofInt
    var rows = 0

    def add(nullGroup: Boolean, group: Long, member: Long): Unit = {
      grp += (if (nullGroup) -1 else groups(group))
      mem += members(member)
      rows += 1
    }

    // group i's distinct member indices: sets(off(i) until off(i + 1))
    private lazy val (off, sets) = {
      val g = grp.result()
      val nullGroup = groups.size
      for (k <- g.indices if g(k) < 0) g(k) = nullGroup
      keyedSets(g, mem.result(), nullGroup + 1)
    }

    /** The mirrored pair count, Σ k(k − 1) over the groups. */
    lazy val pairs: Long = (0 until off.length - 1).iterator.map { i =>
      val k = (off(i + 1) - off(i)).toLong
      k * (k - 1)
    }.sum

    /** Both directions of every pair of distinct members sharing a group,
      * packed a₀, b₀, a₁, b₁, …. */
    def mirrored: Array[Long] = {
      val ids = members.ids
      val out = new Array[Long](2 * pairs.toInt)
      var w = 0
      for (i <- 0 until off.length - 1; a <- off(i) until off(i + 1);
          b <- off(i) until off(i + 1) if a != b) {
        out(w) = ids(sets(a)); out(w + 1) = ids(sets(b)); w += 2
      }
      out
    }
  }

  /** Each key's distinct values, ascending, as a CSR pair (off, vals):
    * key i's values are `vals(off(i) until off(i + 1))`. A counting sort
    * buckets the rows by key, then each bucket is sorted and deduplicated
    * in place, as `collect_set` keeps a set. Row e is (keys(e), vals(e)),
    * each key in [0, n). */
  private def keyedSets(keys: Array[Int], vals: Array[Int],
      n: Int): (Array[Int], Array[Int]) = {
    val off = new Array[Int](n + 1)
    for (e <- keys.indices) off(keys(e) + 1) += 1
    for (i <- 1 to n) off(i) += off(i - 1)
    val out = new Array[Int](keys.length)
    val at = java.util.Arrays.copyOf(off, n)
    for (e <- keys.indices) { out(at(keys(e))) = vals(e); at(keys(e)) += 1 }
    var w = 0
    for (s <- 0 until n) {
      val (from, to) = (off(s), off(s + 1))
      off(s) = w
      java.util.Arrays.sort(out, from, to)
      for (j <- from until to)
        if (w == off(s) || out(w - 1) != out(j)) { out(w) = out(j); w += 1 }
    }
    off(n) = w
    (off, out)
  }

  /** [[labelPropagation]]'s rounds on the driver over the collected edge
    * rows ([[localPairs]], [[localCoOccurrence]]), mirroring the loop
    * step for step. The graph is built in linear time: ids get dense
    * indices from a primitive hash ([[DenseIds]]), renumbered so that
    * index order is signed id order; the out-lists are bucketed, sorted
    * and deduplicated as `collect_set` does ([[keyedSets]]) and checked
    * against `graft.graph.maxDegree` with [[guardDegree]]'s message, and
    * a counting pass turns them into in-neighbor lists. Each round every
    * labeled node sends its previous-round label along its out-list; a
    * node that receives messages adopts the max-count label, ties to the
    * smallest ([[ArgmaxPack]]'s order). Symmetric: the state is the src
    * key set, then only the nodes that received a message (the inner
    * merge). General: the state is every node, sinks included, and a node
    * with no in-messages keeps its label (the keep-old merge). The output
    * is in node order, with the loop's schema: both columns nullable, as
    * the loop's node is an exploded entry of the index's guarded `ns`. */
  private def localLabels(spark: SparkSession, packed: Array[Array[Long]],
      idType: DataType, rounds: Int, symmetric: Boolean): DataFrame = {
    val m = packed.iterator.map(_.length / 2).sum
    val dense = new DenseIds
    val src = new Array[Int](m)
    val dst = new Array[Int](m)
    var k = 0
    for (p <- packed; i <- 0 until p.length by 2) {
      src(k) = dense(p(i)); dst(k) = dense(p(i + 1)); k += 1
    }
    val ids = dense.ids
    java.util.Arrays.sort(ids) // node index i ↔ id ids(i), ascending
    val n = ids.length
    val rank = new Array[Int](n)
    for (i <- 0 until n) rank(dense(ids(i))) = i
    for (e <- 0 until m) { src(e) = rank(src(e)); dst(e) = rank(dst(e)) }
    // out-lists: node s's distinct targets in out(off(s) until off(s + 1))
    val (off, out) = keyedSets(src, dst, n)
    val cap = maxDegree(spark)
    for (s <- 0 until n if off(s + 1) - off(s) > cap)
      throw org.apache.spark.sql.graft.Bridge.raisedError(degreeCapMessage(cap,
        ids(s).toString, (off(s + 1) - off(s)).toString)(identity).mkString)
    val w = off(n)
    // in-neighbor lists: node d's sources in in(inOff(d) until inOff(d + 1))
    val inOff = new Array[Int](n + 1)
    for (j <- 0 until w) inOff(out(j) + 1) += 1
    for (i <- 1 to n) inOff(i) += inOff(i - 1)
    val in = new Array[Int](w)
    val next = java.util.Arrays.copyOf(inOff, n)
    for (s <- 0 until n; j <- off(s) until off(s + 1)) {
      in(next(out(j))) = s; next(out(j)) += 1
    }
    // labels are node indices, so the smallest label is the smallest id
    var lab = Array.range(0, n)
    var has = Array.tabulate(n)(s => !symmetric || off(s + 1) > off(s))
    val cnt = new Array[Int](n)
    for (_ <- 1 to rounds) {
      val lab2 = new Array[Int](n)
      val has2 = new Array[Boolean](n)
      for (d <- 0 until n) {
        // max count, then min label, in one pass over the in-neighbors
        var best = -1
        var bestC = 0
        for (j <- inOff(d) until inOff(d + 1) if has(in(j))) {
          val l = lab(in(j))
          cnt(l) += 1
          if (cnt(l) > bestC || cnt(l) == bestC && l < best) { best = l; bestC = cnt(l) }
        }
        for (j <- inOff(d) until inOff(d + 1)) cnt(lab(in(j))) = 0
        if (best >= 0) { lab2(d) = best; has2(d) = true }
        else if (!symmetric) { lab2(d) = lab(d); has2(d) = has(d) }
      }
      lab = lab2; has = has2
    }
    val rows = new java.util.ArrayList[Row]()
    for (d <- 0 until n if has(d))
      rows.add(Row(if (idType == IntegerType) ids(d).toInt else ids(d), ids(lab(d))))
    spark.createDataFrame(rows, StructType(Seq(
      StructField("node", idType), StructField("label", LongType))))
  }

  /** Dense indices for `long` ids in first-seen order: open addressing
    * with linear probing over a power-of-two table, doubled at half load
    * (Fibonacci hashing picks the slot from the product's high bits). */
  private final class DenseIds {
    private var bits = 10
    private var keys = new Array[Long](1 << bits)
    private var slots = new Array[Int](1 << bits) // index + 1; 0 = empty
    private var found = new Array[Long](1 << (bits - 1))
    private var n = 0

    /** The ids added so far, in first-seen order. */
    def ids: Array[Long] = java.util.Arrays.copyOf(found, n)

    /** The number of ids added so far. */
    def size: Int = n

    /** The index of `id`, added if new. */
    def apply(id: Long): Int = {
      var h = slotOf(id)
      if (slots(h) == 0) {
        if (n == found.length) { grow(); h = slotOf(id) }
        keys(h) = id; slots(h) = n + 1; found(n) = id; n += 1
      }
      slots(h) - 1
    }

    /** The slot holding `id`, or the empty slot where it goes. */
    private def slotOf(id: Long): Int = {
      val mask = keys.length - 1
      var h = ((id * 0x9E3779B97F4A7C15L) >>> (64 - bits)).toInt
      while (slots(h) != 0 && keys(h) != id) h = (h + 1) & mask
      h
    }

    private def grow(): Unit = {
      bits += 1
      keys = new Array[Long](1 << bits)
      slots = new Array[Int](1 << bits)
      found = java.util.Arrays.copyOf(found, 1 << (bits - 1))
      for (i <- 0 until n) { val h = slotOf(found(i)); keys(h) = found(i); slots(h) = i + 1 }
    }
  }

  /** Synchronous Louvain-style MODULARITY MOVES, fixed rounds — the
    * modularity-greedy upgrade over [[labelPropagation]] (Blondel et al.
    * 2008's local-move phase, synchronized the way distributed Louvain
    * variants are in the public literature): every node starts in its
    * own community; each round it moves to the candidate community C
    * (a neighbor's community or its own) maximizing the modularity gain.
    * Bounded-round semantics ([[labelPropagation]]'s contract): the
    * result IS the state after `rounds` synchronous steps.
    *
    * EXACTNESS: the gain comparison multiplies out the 1/2m² terms —
    * score(C) = 2m·k_{i,C} − k_i·(Σtot(C) − [C = cur]·k_i), computed in
    * DECIMAL(38,0) (2m·c wraps int64 past ~10⁹ edges), argmax by
    * (score desc, label asc) via [[argmaxLabel]] — one exchange, no
    * per-node window, bit-identical across engines and layouts. Ties
    * break to the SMALLEST community id (not "prefer staying") — a
    * deterministic, documented choice.
    *
    * Scale shape: [[moveRounds]] over the [[adjacency]] index — per round
    * one Σtot aggregate (community axis), one index probe with in-task
    * explode (neighbor-label counts, map-side combinable), and one argmax
    * exchange; the state checkpoints per round.
    *
    * @param edges any direction/duplication — canonicalized internally;
    *              degree = simple undirected degree
    * @return (node, label) after `rounds` steps
    */
  def modularityMoves(edges: DataFrame, rounds: Int = 2,
      canonical: Boolean = false): DataFrame = {
    require(rounds >= 1, "modularityMoves needs at least one round")
    val e = canonicalFrame(edges, canonical)
    val m = e.count() // control-plane scalar off the checkpoint
    require(m > 0, "modularityMoves needs at least one edge")
    val adj = adjacency(mirror(e))
    val deg = adj.select(col("src").as("node"),
      size(col("ns")).cast("long").as("k"))
    moveRounds(adj, deg, m, rounds, monotone = false)(
      _.select(explode(col("ns")).as("node"), col("label"))
        .groupBy(col("node"), col("label")).agg(count(lit(1)).as("c")))
  }

  /** Both directions of a canonical (u, v[, w]) frame, as (src, dst[, w]). */
  private def mirror(e: DataFrame): DataFrame = {
    val rest = e.columns.filterNot(Set("u", "v")).map(col).toSeq
    e.select(col("u").as("src") +: col("v").as("dst") +: rest: _*)
      .unionByName(e.select(col("v").as("src") +: col("u").as("dst") +: rest: _*))
  }

  /** The synchronous modularity move round shared by [[modularityMoves]]
    * and [[modularityMovesWeighted]]: per round, score every candidate
    * community C of every node — the neighbor labels plus the node's
    * current one — as 2m·c − k·(Σtot(C) − [C = cur]·k) and move to the
    * [[argmaxLabel]] winner. The state has three consumers per round, so
    * each round ends in a lazy barrier.
    *
    * @param deg (node, k) degrees — also the node universe
    * @param monotone admit only candidates with label ≤ current (the
    *   [[modularityMovesWeighted]] termination rule)
    * @param counts the index ⋈ (src, label) state probe → (node, label,
    *   c) neighbor-label mass
    */
  private def moveRounds(adj: DataFrame, deg: DataFrame, m: Long,
      rounds: Int, monotone: Boolean)(
      counts: DataFrame => DataFrame): DataFrame = {
    var lab = deg.select(col("node"), col("node").as("label"))
    for (r <- 1 to rounds) {
      // (node, cur, k) once per round: one V-row join instead of separate
      // cur and deg joins against the E-row candidate frame. Both parents
      // are materialized, so each of the three consumers re-derives it
      // inside its own stage instead of paying a materialization job.
      val state = lab.select(col("node"), col("label").as("__cur"))
        .join(deg, Seq("node"))
      val tot = state.groupBy(col("__cur").as("label"))
        .agg(sum(col("k")).as("tot"))
      // the node's CURRENT community is always a candidate, even when no
      // neighbor shares it. NO dedup aggregate: when cur is also a
      // neighbor label, its zero-count row scores strictly below the true
      // row of the SAME label (score is monotone in c), so the argmax is
      // untouched.
      val cand = counts(adj.join(lab.withColumnRenamed("node", "src"), Seq("src")))
        .unionByName(state.select(col("node"), col("__cur").as("label"),
          lit(0L).as("c")))
        .join(state, Seq("node"))
      val scored = (if (monotone) cand.filter(col("label") <= col("__cur"))
        else cand)
        .join(tot, Seq("label"))
        .select(col("node"), col("label"),
          (lit(2L * m).cast("decimal(38,0)") * col("c") -
            col("k").cast("decimal(38,0)") *
              (col("tot") - when(col("label") === col("__cur"), col("k"))
                .otherwise(lit(0L)))).as("s"))
      lab = argmaxLabel(scored, m)
      if (r < rounds) lab = lab.localCheckpoint(false)
    }
    lab
  }

  /** Per-node argmax (score desc, label asc) of a scored candidate frame
    * — the move loops' inner aggregate. Packed hash aggregate
    * ([[ArgmaxPack]]) while the modularity score bound 4m² fits the 2⁶¹
    * packing guard; the struct-min SortAggregate beyond it. The branch
    * is driver-known (m is already a control-plane scalar in every
    * caller) and both arms compute the identical argmax, so the choice
    * changes the plan, never the result or the operating envelope. */
  private def argmaxLabel(scored: DataFrame, m: Long): DataFrame =
    if (m <= ArgmaxPack.maxPackedM)
      scored.groupBy(col("node"))
        .agg(min(ArgmaxPack.atom(col("s"), col("label"))).as("__a"))
        .select(col("node"), ArgmaxPack.label(col("__a")).as("label"))
    else
      scored.groupBy(col("node"))
        .agg(min(struct((-col("s")).as("ns"), col("label").as("l"))).as("b"))
        .select(col("node"), col("b.l").as("label"))

  /** Community-graph CONTRACTION — the second phase of the Louvain
    * pipeline: communities become nodes, parallel edges aggregate into
    * weights, intra-community edges become self-loops carrying the
    * internal edge count. Composes with [[modularityMoves]] (move →
    * contract → move on the coarse graph) exactly as Blondel et al.
    * describe; also the generic "roll a graph up to its clusters" step
    * for domain/provenance rollups.
    *
    * Scale shape: two label joins against the canonical edge frame
    * (labels are a V-row frame — broadcast when small, shuffle join
    * otherwise; AQE decides) and one (label_a, label_b)-keyed aggregate,
    * map-side combinable. Output is canonical: label_a ≤ label_b, one
    * row per unordered community pair, self-loops included. Contract:
    * every edge endpoint must be labeled — an unlabeled endpoint fails
    * loudly (inner join would silently drop the edge and under-count
    * weights; the raise_error guard makes it a named error instead).
    *
    * @param labels (node, label) — must cover every edge endpoint
    * @return (label_a, label_b, weight) with label_a ≤ label_b
    */
  def contractGraph(edges: DataFrame, labels: DataFrame,
      canonical: Boolean = false): DataFrame =
    contracted(canonicalFrame(edges, canonical), labels, "label_a", "label_b")
      .groupBy(col("label_a"), col("label_b"))
      .agg(count(lit(1)).as("weight"))

  /** The label-join body of [[contractGraph]] / [[contractGraphWeighted]]:
    * both endpoints of every (u, v[, w]) row mapped to their labels
    * (loudly on an unlabeled endpoint), emitted as (lo ≤ hi) plus the
    * carried weight column. */
  private def contracted(e: DataFrame, labels: DataFrame, lo: String,
      hi: String): DataFrame = {
    // two consumers (u- and v-side joins): one V-row materialization
    val lbl = uniqueLabels(labels, "contractGraph").localCheckpoint(false)
    val guard = (l: Column) => when(l.isNull,
      raise_error(concat(lit("contractGraph: unlabeled edge endpoint "),
        lit("(labels must cover every node in the edge set)")))).otherwise(l)
    val rest = e.columns.filterNot(Set("u", "v")).map(col).toSeq
    e.join(lbl.select(col("node").as("u"), col("label").as("lu")),
        Seq("u"), "left")
      .join(lbl.select(col("node").as("v"), col("label").as("lv")),
        Seq("v"), "left")
      .select(guard(col("lu")).as("lu") +: guard(col("lv")).as("lv") +: rest: _*)
      .select(least(col("lu"), col("lv")).as(lo) +:
        greatest(col("lu"), col("lv")).as(hi) +: rest: _*)
  }

  /** Weighted synchronous modularity moves — [[modularityMoves]]' exact
    * integer algebra generalized to edge weights, the inner loop the
    * coarse graphs of [[louvain]] need (contraction produces weights and
    * self-loops): k_i = Σ_{j≠i} w_ij + 2·w_ii, m = Σw, neighbor-label
    * mass c = Σ_{j∈C,j≠i} w_ij, score(C) = 2m·c − k_i·(Σtot(C) −
    * [C=cur]·k_i) in DECIMAL(38,0), argmax by (score desc, label asc).
    * Self-loop weight counts twice in k_i and once in m (the standard
    * convention, which keeps Σk_i = 2m) but never in c — a node cannot
    * move "toward itself".
    *
    * MONOTONE move rule: only candidates with label ≤ current are
    * admissible. Synchronous argmax moves 2-cycle on mutually-attracted
    * community PAIRS (A adopts B's label while B adopts A's — fatal on
    * coarse graphs, where communities come in attracted pairs by
    * construction); restricting moves to label-descending makes Σ labels
    * strictly decrease whenever anything moves, so the sweep TERMINATES
    * — no oscillation at any level — at the documented price that only
    * the lower-id community of a pair can absorb the other (one extra
    * round instead of a swap).
    *
    * Input contract: CANONICAL weighted frame (u ≤ v, one row per
    * unordered pair, long weights, self-loops allowed) — what
    * [[contractGraphWeighted]] emits. Scale shape identical to
    * [[modularityMoves]] ([[moveRounds]] over a weighted index).
    *
    * @param m0 caller-known Σw (one E-scan saved). [[louvain]] passes the
    *   level-0 edge count at EVERY level: contraction conserves total
    *   edge mass (each original edge lands in exactly one coarse pair or
    *   self-loop), so Σw is level-invariant.
    * @param materialized caller-asserted "wedges is already materialized
    *   or derives from a checkpointed frame by cheap projection" — skips
    *   the defensive localCheckpoint (an E-row write) that protects the
    *   multi-consumer fan-out when the input is a raw derivation. */
  private[ops] def modularityMovesWeighted(wedges: DataFrame,
      rounds: Int, m0: Option[Long] = None,
      materialized: Boolean = false): DataFrame = {
    require(rounds >= 1, "modularityMovesWeighted needs at least one round")
    val e0 = wedges.select(col("u"), col("v"), col("w"))
    val e = if (materialized) e0 else e0.localCheckpoint()
    val m = m0.getOrElse(
      e.agg(coalesce(sum(col("w")), lit(0L))).first().getLong(0))
    require(m > 0, "modularityMovesWeighted needs positive total weight")
    val mir = mirror(e.filter(col("u") =!= col("v")))
    val adj = adjacency(mir, weightedNs)
    val selfW = e.filter(col("u") === col("v"))
      .select(col("u").as("node"), (col("w") * 2).as("sw"))
    val nbrW = mir.groupBy(col("src").as("node")).agg(sum(col("w")).as("nw"))
    // full outer: a self-loop-only community node still carries degree
    val deg = nbrW.join(selfW, Seq("node"), "full")
      .select(col("node"),
        (coalesce(col("nw"), lit(0L)) + coalesce(col("sw"), lit(0L)))
          .as("k"))
      .localCheckpoint(false) // lazy: the first round's tot materializes
    moveRounds(adj, deg, m, rounds, monotone = true)(
      _.select(explode(col("ns")).as("n"), col("label"))
        .groupBy(col("n.dst").as("node"), col("label"))
        .agg(sum(col("n.w")).as("c")))
  }

  /** Weight-preserving [[contractGraph]]: same label joins and loud
    * guards, but weights SUM through the rollup instead of counting
    * rows, and intra-community mass lands on (l, l) self-loops — the
    * exact coarse graph the next Louvain level moves on. */
  private[ops] def contractGraphWeighted(wedges: DataFrame,
      labels: DataFrame): DataFrame =
    contracted(wedges.select(col("u"), col("v"), col("w")), labels, "u", "v")
      .groupBy(col("u"), col("v")).agg(sum(col("w")).as("w"))

  /** Multi-level LOUVAIN (Blondel et al. 2008, public literature) — the
    * composed move → contract → move pipeline, with [[modularity]] on the ORIGINAL graph as the per-level
    * acceptance gate:
    *
    *   level ℓ: labels = weighted moves on the current coarse graph;
    *   composite(node) = labels(composite_{ℓ−1}(node));
    *   accept iff Q(composite_ℓ) > Q(composite_{ℓ−1}) — else stop and
    *   keep the previous level (the singleton labeling is level 0, so a
    *   graph with no community structure returns identity).
    *
    * EXACTNESS: moves and contraction are pure integer arithmetic
    * ([[modularityMovesWeighted]]); the gate compares exact integer sums
    * of [[modularity]]'s floor-quantized q_term_x9 — every decision is
    * bit-deterministic and SQL-replayable, level by level.
    *
    * Scale shape: level 1 runs on the full graph with the
    * [[modularityMoves]] cost model; every later level runs on a
    * COMMUNITY-count-sized graph (the Louvain design point — coarse
    * levels are nearly free). Per level: one contraction (two V-row
    * label joins + one E-row aggregate), one composite join (V-row), one
    * modularity audit, and one control-plane Q scalar on the driver.
    *
    * @param edges  (src, dst) rows, any direction/duplication
    * @param levels max levels to attempt (≥ 1)
    * @param rounds synchronous move rounds per level
    * @return (node, label) — every original node mapped to its final
    *         accepted community
    */
  def louvain(edges: DataFrame, levels: Int = 2, rounds: Int = 2,
      canonical: Boolean = false): DataFrame = {
    require(levels >= 1, "louvain needs at least one level")
    val base = canonicalFrame(edges, canonical)
    val m0 = base.count() // one canonical frame + count, shared by every gate
    require(m0 > 0, "louvain needs at least one edge")
    var cur = base.select(col("u"), col("v"), lit(1L).as("w"))
    // level 0: singletons. Identity labels make every intra count 0 and
    // every community degree the node degree, so Q0 is one degree
    // aggregate — no label joins (value-identical to q(identity)). The
    // degree table doubles as the node universe for the identity
    // mapping: ONE E-row pass feeds both, instead of a separate
    // explode-distinct exchange (canonical edges ⇒ every node has d ≥ 1).
    // Lazy: bestQ's first() is the first consumer and materializes it.
    val deg0 = degreesOf(base).localCheckpoint(false)
    var mapping = deg0
      .select(col("n").as("node"), col("n").as("label"))
    var bestQ = deg0.select(qTerm(m0, lit(0L), col("d")).as("t"))
      .agg(coalesce(sum(col("t")), lit(0L))).first().getLong(0)
    var level = 1
    var improving = true
    while (level <= levels && improving) {
      // Σw is m0 at every level (contraction conserves edge mass); level
      // 1's frame is a cheap projection of the checkpointed base, and
      // every later level's frame IS the checkpointed coarse graph (cg
      // below) — materialized at every level, so the operator's
      // defensive E-row pin never fires here
      val lab = modularityMovesWeighted(cur, rounds, Some(m0),
        materialized = true)
      // contraction doubles as the Q audit: contraction conserves both masses q_term_x9 is built from —
      // intra(c) = the (c,c) self-loop weight, degree_sum(c) = 2·self +
      // mirrored cross mass — so the per-community floor-quantized terms
      // computed off the coarse graph are BIT-IDENTICAL to the original-
      // graph audit, and past level 1 the audited frame is community-
      // sized, not E-sized.
      // lazy: qFromCoarse's 1-row first() is the first consumer and
      // materializes the coarse graph; the accepted-level reuse (`cur`)
      // then reads the persisted blocks
      val cg = contractGraphWeighted(cur, lab).localCheckpoint(false)
      val qc = qFromCoarse(cg, m0)
      if (qc > bestQ) {
        bestQ = qc
        // single consumer per level (the next level's composite join or
        // the final output) — lazy: materialized by whoever reads it
        mapping = mapping.withColumnRenamed("label", "__mid")
          .join(lab.select(col("node").as("__mid"), col("label")),
            Seq("__mid"))
          .select(col("node"), col("label"))
          .localCheckpoint(false)
        cur = cg
      } else improving = false
      level += 1
    }
    mapping
  }

  /** Σ q_term_x9 of a labeling, read off its CONTRACTED graph: intra
    * mass is the self-loop weight, community degree mass is 2·self +
    * mirrored cross weight — exactly [[modularityFromCanonical]]'s
    * integers (contraction conserves both), through the same
    * floor-quantized term, without touching the original E rows. */
  private def qFromCoarse(cg: DataFrame, m: Long): Long = {
    val self = cg.filter(col("u") === col("v"))
      .select(col("u").as("label"), col("w").as("iw"))
    val nbr = cg.filter(col("u") =!= col("v"))
    val mirW = nbr.select(col("u").as("label"), col("w"))
      .unionByName(nbr.select(col("v").as("label"), col("w")))
      .groupBy(col("label")).agg(sum(col("w")).as("nw"))
    mirW.join(self, Seq("label"), "full")
      .select(coalesce(col("iw"), lit(0L)).as("intra"),
        (coalesce(col("nw"), lit(0L)) +
          coalesce(col("iw"), lit(0L)) * 2).as("degsum"))
      .select(qTerm(m, col("intra"), col("degsum")).as("t"))
      .agg(coalesce(sum(col("t")), lit(0L))).first().getLong(0)
  }

  /** Degree assortativity — the Pearson correlation of (outdeg(src),
    * outdeg(dst)) over the directed edge list: do high-degree nodes
    * attach to other hubs (assortative, r > 0 — social graphs) or to
    * leaves (disassortative, r < 0 — catalogs, the web)? The one-number
    * structure-health readout that decides whether hub-salting and
    * degree-capped sampling are needed downstream.
    *
    * SEMANTICS: BOTH endpoints are scored by OUT-degree; a dst with no
    * out-edges (a pure sink) contributes dy = 0 rather than dropping the
    * edge (left join + coalesce — every edge counts exactly once in
    * n_edges). On a mirrored edge set ([[undirectedEdges]], the usual
    * call) out-degree IS the undirected degree and no sink exists, so
    * this coincides with the textbook undirected definition; on a raw
    * directed list it is explicitly the out/out variant.
    *
    * EXACTNESS: degrees are exact counts; all five sufficient statistics
    * accumulate in DECIMAL(38,0) (HUGEINT on a SQL engine — per-edge
    * products deg² hold to 10¹⁹, sums to 10³⁸, far past any real E), and
    * the final r is [[Regression.corrPairs]]' fixed double tree
    * num/(√vx·√vy) over exact-decimal casts — bit-identical across
    * engines and layouts. Zero-variance degree distributions (regular
    * graphs) yield null.
    *
    * Scale shape: one degree aggregation + two equi-joins of the slim
    * (node, degree) frame back onto edges + ONE fixed-width aggregate —
    * every stage E-row-bounded and map-side combinable; the edge frame is
    * checkpointed once (degree pass + pair join both read it). For
    * undirected semantics pass the mirrored edge set ([[undirectedEdges]]),
    * which makes src-counts true undirected degrees and weighs each
    * undirected edge once per direction — the standard convention.
    *
    * @param edges (src, dst) rows
    * @return one row: (n_edges, assortativity) */
  def degreeAssortativity(edges: DataFrame): DataFrame = {
    val e = edges.select(col("src"), col("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull)
      // degree aggregation + the pair join both read it; lazy — the
      // degree exchange materializes it inside the single stats job
      .localCheckpoint(false)
    val deg = e.groupBy(col("src")).agg(count(lit(1)).as("d"))
    val d19 = "decimal(19,0)"
    val d38 = "decimal(38,0)"
    val stats = e
      .join(deg.select(col("src"), col("d").as("dx")), Seq("src"))
      .join(deg.select(col("src").as("dst"), col("d").as("dy0")), Seq("dst"),
        "left") // sinks have no out-edges: keep the edge, dy = 0
      .withColumn("dy", coalesce(col("dy0"), lit(0L)))
      .agg(count(lit(1)).as("n_edges"),
        sum(col("dx").cast(d38)).as("sx"),
        sum(col("dy").cast(d38)).as("sy"),
        sum(col("dx").cast(d19) * col("dy").cast(d19)).as("sxy"),
        sum(col("dx").cast(d19) * col("dx").cast(d19)).as("sxx"),
        sum(col("dy").cast(d19) * col("dy").cast(d19)).as("syy"))
    stats.select(col("n_edges"),
      Stats.pearson(col("n_edges")).as("assortativity"))
  }

  /** Bounded-round k-core peel: repeatedly remove nodes with (current)
    * degree < k; what survives `rounds` peels approximates the k-core —
    * the standard "dense cohesive subgraph" extraction (community cores,
    * spam-farm detection). Semantics are DEFINED as the bounded-round
    * peel, not convergence: on a pathological chain the peel needs
    * O(diameter) rounds, so callers needing the exact core raise
    * `rounds` (each round strictly shrinks the edge set or the loop has
    * converged — extra rounds past convergence are no-ops).
    *
    * Scale shape: each round is one degree aggregation over the
    * surviving edges plus two semi-joins, checkpointed per round — the
    * state frame is consumed three times per round, so without the
    * barrier lineage re-derivation grows 3^rounds. Cost per round is
    * O(|E_round|), monotonically shrinking.
    * Kept apart from the shared round kernels: a peel over a shrinking
    * edge frame, with no index and no per-node state.
    *
    * @param edges (src, dst) rows, any direction/duplication
    * @return (node, degree) for nodes surviving `rounds` peels, degree
    *         counted within the surviving subgraph */
  def kCore(edges: DataFrame, k: Int, rounds: Int = 8,
      canonical: Boolean = false): DataFrame = {
    require(k >= 1 && rounds >= 1, "k and rounds must be positive")
    var alive = canonicalFrame(edges, canonical)
    for (_ <- 1 to rounds) {
      val keep = degreesOf(alive).filter(col("d") >= k.toLong).select(col("n"))
      alive = alive
        .join(keep.withColumnRenamed("n", "u"), Seq("u"), "left_semi")
        .join(keep.withColumnRenamed("n", "v"), Seq("v"), "left_semi")
        // lazy barrier: the three consumers (next round's degree pass +
        // two semi-joins) all sit in one downstream plan — block locks
        // materialize each round once, with no per-round job
        .localCheckpoint(false)
    }
    alive.select(explode(array(col("u"), col("v"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("degree"))
  }

  /** k-truss of the simple undirected graph — the subgraph where every
    * surviving edge sits in ≥ k−2 triangles OF THE SUBGRAPH (Cohen 2008):
    * the edge-level cohesion cut one notch stronger than [[kCore]]
    * (every k-truss edge set is inside the (k−1)-core, but a hub-and-
    * spoke passes a degree cut while having no triangles at all).
    * Bounded synchronous peeling, the [[kCore]] contract: each round
    * recomputes per-edge triangle support on the surviving subgraph and
    * drops edges below k−2; a fixed round count yields a SUPERSET of the
    * true k-truss that is exact once a round drops nothing (support
    * cascades — removing one edge can starve another — which is why the
    * peel iterates rather than filtering once).
    *
    * Scale shape per round: one degree aggregate + the degree-ORIENTED
    * wedge close of [[triangleCounts]] (each triangle generated exactly
    * once, wedge fan-out capped near √|E| by orientation), triangles
    * exploded to their three canonical edges into one map-side-
    * combinable support count, one semi-join back. Everything is
    * E-row-bounded; no per-node state at all.
    *
    * @return (u, v, support) for surviving edges, support measured on
    *         the FINAL surviving subgraph
    */
  def kTruss(edges: DataFrame, k: Int, rounds: Int = 3,
      canonical: Boolean = false): DataFrame = {
    require(k >= 3 && rounds >= 1, "k-truss needs k >= 3 and rounds >= 1")
    val minSup = (k - 2).toLong
    var e = canonicalFrame(edges, canonical)
    def supportOf(ed: DataFrame): DataFrame = {
      val tris = trianglesOf(ed, degreesOf(ed))
      tris.select(explode(array(
          struct(least(col("a"), col("b")).as("u"),
            greatest(col("a"), col("b")).as("v")),
          struct(least(col("a"), col("c")).as("u"),
            greatest(col("a"), col("c")).as("v")),
          struct(col("b").as("u"), col("c").as("v")))).as("ed"))
        .select(col("ed.u").as("u"), col("ed.v").as("v"))
        .groupBy(col("u"), col("v")).agg(count(lit(1)).as("support"))
    }
    for (_ <- 1 to rounds) {
      e = e.join(supportOf(e).filter(col("support") >= minSup)
          .select(col("u"), col("v")), Seq("u", "v"), "left_semi")
        .localCheckpoint(false) // lazy barrier (the kCore discipline)
    }
    e.join(supportOf(e), Seq("u", "v"), "left")
      .select(col("u"), col("v"),
        coalesce(col("support"), lit(0L)).as("support"))
  }

  /** Maximal independent set via Luby's algorithm (Luby 1986) with
    * DETERMINISTIC md5 priorities — the distributed symmetry-breaking
    * primitive behind conflict-free scheduling, landmark/seed selection,
    * and greedy graph coloring's first color class. Each round, a node
    * still in play joins the MIS iff its priority is STRICTLY below
    * every remaining neighbor's; winners and their neighborhoods leave
    * the game. Priorities are `md5_low64("mis:" ++ node)` sign-flipped
    * to the unsigned order (cross-engine reproducible — the
    * [[graft.functions.Md5Low64]] parity contract), so the whole run is
    * a pure function of the edge set: no RNG, replay-identical.
    * Strict-only comparisons make hash ties (≈2⁻⁶⁴ per adjacent pair)
    * block a locality rather than pick an engine-dependent winner.
    * Bounded rounds select an independent PREFIX that is maximal once a
    * round empties the remainder (Luby needs O(log n) rounds w.h.p.);
    * `n_remaining` in the companion audit is the honest check.
    *
    * Scale shape per round: one V-row priority join onto the remaining
    * adjacency explode + one min-aggregate + two anti-joins — all
    * E-row-bounded, map-side combinable; the remaining-edge frame
    * checkpoints per round exactly like [[kCore]]'s peel.
    * Kept apart from the shared round kernels for the same reason as
    * [[kCore]]: each round shrinks the edge frame itself.
    *
    * @param edges (src, dst) rows, any direction/duplication
    * @return (node, mis_round) for every selected node — a node whose
    *         whole remaining neighborhood has left the game wins its
    *         round unconditionally (null neighbor-min)
    */
  def maximalIndependentSet(edges: DataFrame, rounds: Int = 3,
      canonical: Boolean = false): DataFrame = {
    require(rounds >= 1, "rounds must be positive")
    val e0 = canonicalFrame(edges, canonical)
    val pri = e0.select(explode(array(col("u"), col("v"))).as("node"))
      .distinct()
      .select(col("node"),
        unsignedMd5(concat(lit("mis:"), col("node").cast("string"))).as("p"))
      .localCheckpoint(false) // lazy: round 1's probe materializes it
    var remaining = pri
    var alive = e0
    var mis: DataFrame = null
    for (r <- 1 to rounds) {
      val mir = alive.unionByName(
        alive.select(col("v").as("u"), col("u").as("v")))
      val nbrMin = mir
        .join(remaining.select(col("node").as("v"), col("p").as("pv")), Seq("v"))
        .groupBy(col("u").as("node")).agg(min(col("pv")).as("np"))
      val winners = remaining.join(nbrMin, Seq("node"), "left")
        .filter(col("np").isNull || col("p") < col("np"))
        .select(col("node"), lit(r).as("mis_round"))
        .localCheckpoint(false) // lazy barrier (the kCore discipline)
      mis = if (mis == null) winners else mis.unionByName(winners)
      val removed = winners.select(col("node"))
        .unionByName(mir.join(
          winners.select(col("node").as("u")), Seq("u"), "left_semi")
          .select(col("v").as("node")))
        .distinct()
      remaining = remaining.join(removed, Seq("node"), "left_anti")
        .localCheckpoint(false)
      alive = alive
        .join(remaining.select(col("node").as("u")), Seq("u"), "left_semi")
        .join(remaining.select(col("node").as("v")), Seq("v"), "left_semi")
        .select(col("u"), col("v"))
        .localCheckpoint(false)
    }
    mis
  }

  /** Coreness (k-core number) of every node via the H-INDEX ITERATION
    * (Lü, Chen, Ren, Zhang, Yan & Zhou 2016): c₀(v) = deg(v), then each
    * round c(v) ← H({c(u) : u ∈ N(v)}) — the largest h such that at
    * least h neighbors currently hold value ≥ h. The sequence is
    * monotone non-increasing per node and converges to the exact core
    * number, so a BOUNDED round count yields a per-node UPPER bound that
    * is exact wherever the iteration has settled (the pageRank/bfsHops
    * bounded-round contract; deep nested-core chains need more rounds).
    * Unlike [[kCore]] (fixed k, global peeling) this produces the whole
    * decomposition in one pass family — the standard "how deep in the
    * graph's cohesive core is this node" curation signal.
    *
    * Scale shape: the adjacency index builds once ([[guardDegree]]
    * contract); each round equi-joins the slim (node, c) state against
    * the index, explodes in-task, and computes the H-index RELATIONALLY —
    * desc-sort the collected neighbor values, posexplode, count positions
    * with value ≥ position — keeping every stage whole-stage codegen
    * (the orderedPairs HOF lesson: an aggregate()/zip_with() form splits
    * the span). Per round: E in-task rows, two V-row exchanges.
    *
    * Kept apart from the shared round kernels: its index is keyed by
    * node and each round is an H-index aggregate, not a scatter-sum.
    *
    * @param edges (src, dst) rows, any direction/duplication
    * @return (node, coreness) — exact once converged, else upper bound
    */
  def coreness(edges: DataFrame, rounds: Int = 4,
      canonical: Boolean = false): DataFrame = {
    require(rounds >= 1, "rounds must be positive")
    val e = canonicalFrame(edges, canonical)
    val adj = guardDegree(mirror(e).groupBy(col("src").as("node"))
      .agg(collect_list(col("dst")).as("ns")), "node", "ns").localCheckpoint(false)
    var state = adj.select(col("node"), size(col("ns")).cast("long").as("c"))
    for (_ <- 1 to rounds) {
      state = adj.select(col("node"), explode(col("ns")).as("nb"))
        .join(state.select(col("node").as("nb"), col("c").as("cn")), "nb")
        .groupBy(col("node"))
        .agg(sort_array(collect_list(col("cn")), asc = false).as("cs"))
        // H-index: with cs desc-sorted, the indicator [cs[i] ≥ i+1] is
        // monotone non-increasing along the array, so H = Σ_i [cs[i] ≥ i+1]
        .select(col("node"), posexplode(col("cs")).as(Seq("__i", "cv")))
        .filter(col("cv") >= col("__i") + 1L)
        .groupBy(col("node")).agg(count(lit(1)).as("c"))
        .localCheckpoint(false) // lazy barrier: one consumer per round
    }
    state.withColumnRenamed("c", "coreness")
  }
}
