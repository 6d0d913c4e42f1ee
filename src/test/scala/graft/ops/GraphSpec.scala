package graft.ops

import graft.SparkSpec

class GraphSpec extends SparkSpec {
  import spark.implicits._

  /** Local replica of Graph.pageRank's integer recurrence — the spec's
    * oracle, independent of any DataFrame machinery. */
  private def localPageRank(edges: Seq[(Long, Long)], iters: Int): Map[Long, Long] = {
    val e = edges.distinct
    val deg = e.groupBy(_._1).map { case (s, xs) => s -> xs.size.toLong }
    val nodes = (e.map(_._1) ++ e.map(_._2)).distinct
    val n = nodes.size.toLong
    var pr = nodes.map(_ -> 1000000000000L / n).toMap
    for (_ <- 1 to iters) {
      val sc = e.groupBy(_._2).map { case (dst, in) =>
        dst -> in.map { case (src, _) => pr(src) / deg(src) }.sum
      }
      pr = nodes.map(v => v -> (150000000000L / n + 85 * sc.getOrElse(v, 0L) / 100)).toMap
    }
    pr
  }

  test("pageRank ≡ local integer recurrence; hub outranks leaves") {
    // star (hub 100 ← leaves 1..5, bidirectional) + a disconnected 2-cycle
    val star = (1L to 5L).flatMap(i => Seq((i, 100L), (100L, i)))
    val edges = star ++ Seq((200L, 201L), (201L, 200L))
    val got = Graph.pageRank(edges.toDF("src", "dst"), iterations = 5)
      .as[(Long, Long)].collect().toMap
    assert(got == localPageRank(edges, 5))
    assert(got(100L) > got(1L), "hub must outrank a leaf")
    assert(got(200L) == got(201L), "symmetric cycle nodes rank equally")
  }

  test("pageRank is partition-layout-invariant (exact integer equality)") {
    val edges = (1L to 40L).map(i => (i, i % 7 + 1)) ++ (1L to 7L).map(i => (i, 8L))
    val df = edges.toDF("src", "dst")
    val a = Graph.pageRank(df, iterations = 3).as[(Long, Long)].collect().toMap
    val b = Graph.pageRank(df.repartition(13), iterations = 3)
      .as[(Long, Long)].collect().toMap
    assert(a == b)
  }

  test("pageRank rounds probe the adjacency index: explodes matched ns[] " +
      "in-task, never re-joins an E-row edge table (hits shares the " +
      "identical per-round construction — in/out indexes + explode — but " +
      "checkpoints every round, so its shape is pinned here by proxy)") {
    val df = (1L to 40L).map(i => (i, i % 7 + 1)).toDF("src", "dst")
    val plan = Graph.pageRank(df, iterations = 3)
      .queryExecution.executedPlan.toString
    assert(plan.contains("Generate explode"),
      "rounds must explode adjacency lists (index probe form)")
    // the only materialized inputs are the V-row index + node set — a
    // per-round edge-table form would add an E-row ExistingRDD consumer
    assert(!plan.contains("CartesianProduct"))
  }

  test("orderedPairs: every unordered in-set pair exactly once, src < dst; " +
      "singletons and empties emit nothing") {
    val sets = Seq(
      (1L, Seq(30L, 10L, 20L)), // unsorted arrival — sort is in-row
      (2L, Seq(7L)), // singleton: one posexplode row, empty slice
      (3L, Seq.empty[Long]), // empty: zero posexplode rows
      (4L, Seq(10L, 20L)) // repeats a pair from set 1: emitted again
    ).toDF("gid", "ps")
    val got = Graph.orderedPairs(sets, "ps")
      .as[(Long, Long)].collect().toSeq.sorted
    assert(got == Seq((10L, 20L), (10L, 20L), (10L, 30L), (20L, 30L)),
      s"got $got")
    // whole-stage codegen holds through both Generates (the reason this
    // beats a transform() lambda — CodegenFallback would split the span);
    // the simple plan string marks codegen'd operators with "*(n)". The
    // in-row sort must be sort_array, NOT array_sort: array_sort's
    // default comparator is a lambda (higher-order function →
    // CodegenFallback), which measured ~1.8× slower warm at 100×.
    val plan = Graph.orderedPairs(sets, "ps")
      .queryExecution.executedPlan.toString
    assert(plan.linesIterator.filter(_.contains("Generate"))
      .forall(_.contains("*(")), plan)
    assert(!plan.contains("lambdafunction"), plan)
  }

  test("undirectedEdges: distinct, mirrored, cross-row duplicates collapsed") {
    val sets = Seq(
      (1L, Seq(10L, 20L, 30L)),
      (2L, Seq(20L, 10L)) // repeats the (10,20) pair — distinct must fold it
    ).toDF("gid", "ps")
    val got = Graph.undirectedEdges(sets, "ps")
      .as[(Long, Long)].collect().toSeq.sorted
    assert(got == Seq((10L, 20L), (10L, 30L), (20L, 10L), (20L, 30L),
      (30L, 10L), (30L, 20L)), s"got $got")
  }

  test("triangleCounts: K4 + pendant path, duplicate/reversed edges normalized") {
    // K4 over {1,2,3,4}: 4 triangles, each node in 3; path 4-5-6: none new.
    // Edges arrive duplicated and in both directions — normalization work.
    val k4 = for (i <- 1L to 4L; j <- 1L to 4L if i != j) yield (i, j)
    val edges = (k4 ++ Seq((4L, 5L), (5L, 4L), (5L, 6L), (6L, 5L), (1L, 2L)))
      .toDF("src", "dst")
    val got = Graph.triangleCounts(edges).as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L),
      s"got $got")
    // triangle-free nodes are absent, not zero
    assert(!got.contains(5L) && !got.contains(6L))
  }

  test("kCore: pendant chain cascades off; clique survives; bounded rounds") {
    // K4 {1,2,3,4} + chain 4-5-6: the 3-core is exactly the clique, but
    // the cascade takes two rounds (6 peels first, then 5)
    val k4 = for (i <- 1L to 4L; j <- (i + 1L) to 4L) yield (i, j)
    val edges = (k4 ++ Seq((4L, 5L), (5L, 6L))).toDF("src", "dst")
    val core = Graph.kCore(edges, k = 3, rounds = 8)
      .as[(Long, Long)].collect().toMap
    assert(core == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L), s"got $core")

    // bounded-round semantics: path 1-2-3-4-5 at k=2 peels one endpoint
    // pair per round — after ONE round the middle survives with its
    // recomputed degrees; full convergence empties it
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("src", "dst")
    val r1 = Graph.kCore(path, k = 2, rounds = 1).as[(Long, Long)].collect().toMap
    assert(r1 == Map(2L -> 1L, 3L -> 2L, 4L -> 1L), s"got $r1")
    assert(Graph.kCore(path, k = 2, rounds = 3).count() == 0L)
  }

  test("bfsHops: multi-source min distance, bounded horizon, unreached absent") {
    // path 1-2-3-4-5-6 (bidirectional) + island 10-11; seeds {1, 5}
    val path = (1L to 5L).flatMap(i => Seq((i, i + 1), (i + 1, i)))
    val edges = (path ++ Seq((10L, 11L), (11L, 10L))).toDF("src", "dst")
    val seeds = Seq(1L, 5L).toDF("node")
    val got = Graph.bfsHops(edges, seeds, rounds = 6)
      .as[(Long, Long)].collect().toMap
    // node 3 is 2 hops from BOTH seeds — min, not first-writer-wins
    assert(got == Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 1L, 5L -> 0L,
      6L -> 1L), s"got $got")

    // bounded horizon: 1 round from seed 1 only reaches node 2
    val one = Graph.bfsHops(edges, Seq(1L).toDF("node"), rounds = 1)
      .as[(Long, Long)].collect().toMap
    assert(one == Map(1L -> 0L, 2L -> 1L), s"got $one")

    // layout invariance: exact integer equality under repartition
    val a = Graph.bfsHops(edges, seeds, rounds = 3)
      .as[(Long, Long)].collect().toMap
    val b = Graph.bfsHops(edges.repartition(13), seeds, rounds = 3)
      .as[(Long, Long)].collect().toMap
    assert(a == b)

    // early exit: rounds far past the eccentricity return the identical
    // result (the driver stops expanding once a frontier comes back
    // empty — extra rounds were always no-ops, now they cost nothing)
    val deep = Graph.bfsHops(edges, seeds, rounds = 50)
      .as[(Long, Long)].collect().toMap
    assert(deep == got)

    // empty seed set: no layers beyond the empty layer 0
    assert(Graph.bfsHops(edges, Seq.empty[Long].toDF("node"),
      rounds = 3).count() == 0L)

    // directed graph, dst-only seed: node 30 is a pure sink, so it lives
    // only on the dst side of the adjacency index — the seed-validation
    // remainder path must still admit it (dist 0, no expansion), and a
    // seed absent from BOTH sides must stay absent
    val directed = Seq((20L, 30L), (21L, 30L)).toDF("src", "dst")
    val dgot = Graph.bfsHops(directed, Seq(30L, 99L).toDF("node"),
      rounds = 2).as[(Long, Long)].collect().toMap
    assert(dgot == Map(30L -> 0L), s"got $dgot")
  }

  test("symmetric fast paths ≡ general on mirrored edges (pageRank: no " +
      "dangling join, node set = adjacency keys; bfsHops: no remainder " +
      "probe) — exact integer equality, off-graph seeds still dropped") {
    // mirrored co-occurrence graph: star + 2-cycle, built the q124 way
    val sets = Seq(
      (1L, Seq(100L, 1L, 2L, 3L)),
      (2L, Seq(100L, 4L, 5L)),
      (3L, Seq(200L, 201L))).toDF("gid", "ps")
    val edges = Graph.undirectedEdges(sets, "ps")
    val prG = Graph.pageRank(edges, iterations = 4)
      .as[(Long, Long)].collect().toMap
    val prS = Graph.pageRank(edges, iterations = 4, symmetric = true)
      .as[(Long, Long)].collect().toMap
    assert(prG == prS)
    // 999 is in no basket: both paths must drop it, not seed it
    val seeds = Seq(100L, 999L).toDF("node")
    val bfsG = Graph.bfsHops(edges, seeds, rounds = 3)
      .as[(Long, Long)].collect().toMap
    val bfsS = Graph.bfsHops(edges, seeds, rounds = 3, symmetric = true)
      .as[(Long, Long)].collect().toMap
    assert(bfsG == bfsS)
    assert(!bfsS.contains(999L))
  }

  test("hits: hand-computed 3-round mutual reinforcement with max " +
      "normalization — top node pinned at 1000, exact quantized trail") {
    val edges = Seq((1L, 10L), (1L, 11L), (2L, 10L)).toDF("src", "dst")
    val out = Graph.hits(edges, rounds = 3)
      .as[(String, Long, Long)].collect()
      .map { case (k, n, s) => (k, n) -> s }.toMap
    // r1: h=(1:1000, 2:500), a=(10:1000, 11:666)
    // r2: h=(1:1000, 2:600), a=(10:1000, 11:625)
    // r3: h=(1:1000, 2:615), a=(10:1000, 11:619)
    assert(out == Map(
      ("hub", 1L) -> 1000L, ("hub", 2L) -> 615L,
      ("authority", 10L) -> 1000L, ("authority", 11L) -> 619L))
  }

  test("hits: layout-invariant and max-normalized every round") {
    val edges = (0L until 60L).map(i => (i % 7, 100 + (i * 3) % 11))
      .toDF("src", "dst")
    val a = Graph.hits(edges, rounds = 2)
      .as[(String, Long, Long)].collect().toSet
    val b = Graph.hits(edges.repartition(13), rounds = 2)
      .as[(String, Long, Long)].collect().toSet
    assert(a == b)
    assert(a.filter(_._1 == "hub").map(_._3).max == 1000L)
    assert(a.filter(_._1 == "authority").map(_._3).max == 1000L)
  }

  /** Local replica of personalizedPageRank's integer recurrence. */
  private def localPPR(edges: Seq[(Long, Long)], seeds: Set[Long],
      iters: Int): Map[Long, Long] = {
    val e = edges.distinct
    val deg = e.groupBy(_._1).map { case (s, xs) => s -> xs.size.toLong }
    val nodes = (e.map(_._1) ++ e.map(_._2)).distinct
    val s = seeds.intersect(nodes.toSet)
    val ns = s.size.toLong
    var pr = nodes.map(v => v -> (if (s(v)) 1000000000000L / ns else 0L)).toMap
    for (_ <- 1 to iters) {
      val sc = e.groupBy(_._2).map { case (dst, in) =>
        dst -> in.map { case (src, _) => pr(src) / deg(src) }.sum
      }
      pr = nodes.map(v => v ->
        ((if (s(v)) 150000000000L / ns else 0L) + 85 * sc.getOrElse(v, 0L) / 100)).toMap
    }
    pr
  }

  test("personalizedPageRank ≡ local integer recurrence; mass concentrates " +
      "near the seed; absent-seed require; disconnected stays at 0") {
    // path 1-2-3-4-5 (bidirectional) + disconnected 2-cycle, seed {1}
    val path = (1L to 4L).flatMap(i => Seq((i, i + 1), (i + 1, i)))
    val edges = path ++ Seq((200L, 201L), (201L, 200L))
    val got = Graph.personalizedPageRank(edges.toDF("src", "dst"),
        Seq(1L).toDF("node"), iterations = 4)
      .as[(Long, Long)].collect().toMap
    assert(got == localPPR(edges, Set(1L), 4))
    // sync PPR oscillates with parity on bipartite structure, so adjacent
    // hops aren't monotone — but the far end of the path must hold far
    // less mass than the seed at any round
    assert(got(1L) > got(5L),
      "seed must outrank the farthest node")
    assert(got(200L) == 0L && got(201L) == 0L,
      "nodes unreachable from the seed hold exactly zero mass")
    val err = intercept[IllegalArgumentException] {
      Graph.personalizedPageRank(path.toDF("src", "dst"),
        Seq(999L).toDF("node"), iterations = 2).collect()
    }
    assert(err.getMessage.contains("no seed is present"))
  }

  test("personalizedPageRank: symmetric fast path ≡ general on mirrored " +
      "edges; layout-invariant") {
    val sets = Seq(Seq(1L, 2L, 3L), Seq(3L, 4L), Seq(4L, 5L, 1L))
      .toDF("ps")
    val edges = Graph.undirectedEdges(sets, "ps")
    val seeds = Seq(1L, 4L).toDF("node")
    val gen = Graph.personalizedPageRank(edges, seeds, iterations = 3)
      .as[(Long, Long)].collect().toMap
    val sym = Graph.personalizedPageRank(edges, seeds, iterations = 3,
      symmetric = true).as[(Long, Long)].collect().toMap
    val rep = Graph.personalizedPageRank(edges.repartition(7), seeds,
      iterations = 3).as[(Long, Long)].collect().toMap
    assert(gen == sym)
    assert(gen == rep)
  }

  /** Local replica of pageRankWeighted's integer recurrence. */
  private def localWPR(edges: Seq[(Long, Long, Long)], iters: Int): Map[Long, Long] = {
    val e = edges
    val sw = e.groupBy(_._1).map { case (s, xs) => s -> xs.map(_._3).sum }
    val nodes = (e.map(_._1) ++ e.map(_._2)).distinct
    val n = nodes.size.toLong
    var pr = nodes.map(_ -> 1000000000000L / n).toMap
    for (_ <- 1 to iters) {
      val sc = e.groupBy(_._2).map { case (dst, in) =>
        dst -> in.map { case (src, _, w) => pr(src) * w / sw(src) }.sum
      }
      pr = nodes.map(v => v -> (150000000000L / n + 85 * sc.getOrElse(v, 0L) / 100)).toMap
    }
    pr
  }

  test("pageRankWeighted ≡ local integer recurrence; the heavier edge " +
      "pulls more mass; unit weights ≡ unweighted pageRank; parallel " +
      "edges SUM affinity; zero-weight edges dropped") {
    // hub 1 links leaves 2 (w=1) and 3 (w=3); back-edges keep it symmetric
    val edges = Seq((1L, 2L, 1L), (1L, 3L, 3L), (2L, 1L, 1L), (3L, 1L, 3L))
    val got = Graph.pageRankWeighted(edges.toDF("src", "dst", "w"),
      iterations = 4).as[(Long, Long)].collect().toMap
    assert(got == localWPR(edges, 4))
    assert(got(3L) > got(2L), "the w=3 leaf must outrank the w=1 leaf")
    // unit weights reduce exactly to the uniform split
    val uni = (1L to 12L).map(i => (i, i % 5 + 1))
    val w1 = Graph.pageRankWeighted(uni.map { case (a, b) => (a, b, 1L) }
      .toDF("src", "dst", "w"), iterations = 3).as[(Long, Long)].collect().toMap
    val plain = Graph.pageRank(uni.toDF("src", "dst"), iterations = 3)
      .as[(Long, Long)].collect().toMap
    assert(w1 == plain)
    // parallel (src,dst) edges sum their affinity = one combined edge
    val par = Graph.pageRankWeighted(
      Seq((1L, 2L, 1L), (1L, 2L, 2L), (2L, 1L, 3L)).toDF("src", "dst", "w"),
      iterations = 2).as[(Long, Long)].collect().toMap
    val comb = Graph.pageRankWeighted(
      Seq((1L, 2L, 3L), (2L, 1L, 3L)).toDF("src", "dst", "w"),
      iterations = 2).as[(Long, Long)].collect().toMap
    assert(par == comb)
    // zero weights carry no mass and don't pad the node set
    val z = Graph.pageRankWeighted(
      Seq((1L, 2L, 1L), (2L, 1L, 1L), (1L, 99L, 0L)).toDF("src", "dst", "w"),
      iterations = 2).as[(Long, Long)].collect().toMap
    assert(!z.contains(99L))
  }

  test("pageRankWeighted: symmetric fast path ≡ general on mirrored " +
      "weighted edges; layout-invariant") {
    val half = Seq((1L, 2L, 2L), (2L, 3L, 5L), (3L, 1L, 1L), (3L, 4L, 7L))
    val edges = (half ++ half.map { case (a, b, w) => (b, a, w) })
      .toDF("src", "dst", "w")
    val gen = Graph.pageRankWeighted(edges, iterations = 3)
      .as[(Long, Long)].collect().toMap
    val sym = Graph.pageRankWeighted(edges, iterations = 3, symmetric = true)
      .as[(Long, Long)].collect().toMap
    val rep = Graph.pageRankWeighted(edges.repartition(7), iterations = 3)
      .as[(Long, Long)].collect().toMap
    assert(gen == sym)
    assert(gen == rep)
  }

  /** Local bounded-round Bellman–Ford replica (full relaxation per round —
    * the semantics the frontier form must reproduce exactly). */
  private def localSssp(edges: Seq[(Long, Long, Long)], seeds: Set[Long],
      rounds: Int): Map[Long, Long] = {
    val minE = edges.groupBy(e => (e._1, e._2))
      .map { case ((s, d), xs) => (s, d, xs.map(_._3).min) }.toSeq
    val nodes = (minE.map(_._1) ++ minE.map(_._2)).distinct.toSet
    var dist: Map[Long, Long] = seeds.intersect(nodes).map(_ -> 0L).toMap
    for (_ <- 1 to rounds) {
      val cand = minE.flatMap { case (s, d, w) =>
        dist.get(s).map(c => d -> (c + w))
      }.groupBy(_._1).map { case (d, xs) => d -> xs.map(_._2).min }
      dist = (dist.keySet ++ cand.keySet).map { v =>
        v -> math.min(dist.getOrElse(v, Long.MaxValue),
          cand.getOrElse(v, Long.MaxValue))
      }.toMap
    }
    dist
  }

  test("ssspWeighted ≡ local bounded Bellman–Ford: cheaper long route wins, " +
      "bounded horizon hides it, parallel edges take the min weight") {
    // 1→5 direct cost 10; 1→2→3→4→5 each cost 1 (total 4, needs 4 rounds);
    // parallel duplicate of 1→5 at cost 7 must be the one used early
    val edges = Seq(
      (1L, 5L, 10L), (1L, 5L, 7L),
      (1L, 2L, 1L), (2L, 3L, 1L), (3L, 4L, 1L), (4L, 5L, 1L))
    val df = edges.toDF("src", "dst", "w")
    val seeds = Seq(1L).toDF("node")
    val r1 = Graph.ssspWeighted(df, seeds, rounds = 1)
      .as[(Long, Long)].collect().toMap
    assert(r1 == localSssp(edges, Set(1L), 1))
    assert(r1(5L) == 7L, "one round sees only the direct min-weight edge")
    val r4 = Graph.ssspWeighted(df, seeds, rounds = 4)
      .as[(Long, Long)].collect().toMap
    assert(r4 == localSssp(edges, Set(1L), 4))
    assert(r4(5L) == 4L, "four rounds find the cheaper 4-hop route")
  }

  test("ssspWeighted: multi-seed min, zero-weight edges, early exit past " +
      "the eccentricity, layout invariance, sink-only seed reached") {
    val edges = Seq((1L, 2L, 0L), (2L, 3L, 5L), (9L, 3L, 1L), (4L, 9L, 1L))
    val df = edges.toDF("src", "dst", "w")
    val seeds = Seq(1L, 9L).toDF("node")
    val got = Graph.ssspWeighted(df, seeds, rounds = 10)
      .as[(Long, Long)].collect().toMap
    assert(got == localSssp(edges, Set(1L, 9L), 10))
    assert(got(3L) == 1L, "nearest seed (9) wins over the farther (1)")
    assert(got(2L) == 0L, "zero-weight edges propagate cost unchanged")
    val rep = Graph.ssspWeighted(df.repartition(5), seeds, rounds = 10)
      .as[(Long, Long)].collect().toMap
    assert(got == rep)
    // a seed that never appears as src (pure sink) still seeds at cost 0
    val sink = Graph.ssspWeighted(df, Seq(3L).toDF("node"), rounds = 2)
      .as[(Long, Long)].collect().toMap
    assert(sink == Map(3L -> 0L))
  }

  /** Local replica of the synchronous min-tie-break label propagation. */
  private def localLPA(edges: Seq[(Long, Long)], rounds: Int): Map[Long, Long] = {
    val e = edges.distinct
    val nodes = (e.map(_._1) ++ e.map(_._2)).distinct
    var lab = nodes.map(v => v -> v).toMap
    for (_ <- 1 to rounds) {
      val in = e.groupBy(_._2)
      lab = nodes.map { v =>
        in.get(v) match {
          case None => v -> lab(v)
          case Some(es) =>
            val counts = es.map { case (s, _) => lab(s) }
              .groupBy(identity).map { case (l, xs) => (l, xs.size) }
            v -> counts.toSeq.minBy { case (l, c) => (-c, l) }._1
        }
      }.toMap
    }
    lab
  }

  test("labelPropagation ≡ local sync replica: two cliques joined by a " +
      "bridge split into two min-label communities; ties go to the " +
      "smallest label; layout-invariant") {
    def clique(ids: Seq[Long]) =
      for (a <- ids; b <- ids if a != b) yield (a, b)
    val edges = clique(Seq(1L, 2L, 3L, 4L)) ++ clique(Seq(10L, 11L, 12L, 13L)) ++
      Seq((4L, 10L), (10L, 4L))
    val df = edges.toDF("src", "dst")
    // both paths: the driver tier (default) and the forced distributed loop
    for (lpa <- Seq[LpaRun](Graph.labelPropagation(_, _, _),
        GraphSpec.loopLabelPropagation)) {
      val got = lpa(df, 3, false).as[(Long, Long)].collect().toMap
      assert(got == localLPA(edges, 3))
      assert(Seq(1L, 2L, 3L).forall(got(_) == 1L),
        "the first clique converges to its min label")
      assert(Seq(11L, 12L, 13L).forall(got(_) == 10L),
        "the second clique converges to ITS min label, not the global one")
      val rep = lpa(df.repartition(9), 3, false).as[(Long, Long)].collect().toMap
      assert(got == rep)
      val sym = lpa(df, 3, true).as[(Long, Long)].collect().toMap
      assert(got == sym, "symmetric fast path ≡ general on mirrored input")
    }
  }

  /** A labelPropagation entry point: (edges, rounds, symmetric). */
  private type LpaRun = (org.apache.spark.sql.DataFrame, Int, Boolean) =>
    org.apache.spark.sql.DataFrame

  private def isLocal(df: org.apache.spark.sql.DataFrame): Boolean =
    df.queryExecution.executedPlan.toString.contains("LocalTableScan")

  test("labelPropagation: the driver tier ≡ the distributed loop — same " +
      "rows and schema on bridged, disconnected, self-loop, tie-heavy, " +
      "sink, non-mirrored, negative-id, int-id and empty graphs") {
    def clique(ids: Seq[Long]) =
      for (a <- ids; b <- ids if a != b) yield (a, b)
    def mirrored(es: Seq[(Long, Long)]) = es ++ es.map(_.swap)
    val long = Seq(
      "bridged cliques" -> (clique(Seq(1L, 2L, 3L, 4L)) ++
        clique(Seq(10L, 11L, 12L, 13L)) ++ Seq((4L, 10L), (10L, 4L))),
      "disconnected" -> (clique(Seq(1L, 2L, 3L)) ++
        mirrored(Seq((20L, 21L), (21L, 22L), (22L, 23L))) ++ Seq((40L, 41L))),
      "self-loops" -> Seq((1L, 1L), (1L, 2L), (2L, 1L), (2L, 2L), (3L, 3L),
        (3L, 1L), (4L, 4L)),
      "tie-heavy star" -> (mirrored((1L to 6L).map(i => (0L, i))) ++
        mirrored(Seq((1L, 2L), (3L, 4L), (5L, 6L)))),
      "sink with no in-neighbors" -> Seq((7L, 1L), (1L, 2L), (2L, 1L),
        (8L, 2L), (2L, 9L)),
      "non-mirrored" -> Seq((1L, 2L), (2L, 3L), (3L, 4L), (5L, 3L), (4L, 2L),
        (6L, 6L)),
      "negative ids" -> (clique(Seq(-5L, -3L, 2L)) ++ mirrored(Seq(
        (Long.MinValue, 7L), (Long.MaxValue, 7L), (-1L, 7L), (Long.MinValue, -1L)))),
      // parallel edges count once (collect_set), in the tier as in the loop
      "duplicate edges" -> (clique(Seq(1L, 2L, 3L)) ++ clique(Seq(1L, 2L, 3L)) ++
        Seq((4L, 1L), (4L, 1L), (4L, 1L), (5L, 1L), (5L, 2L), (1L, 5L), (2L, 5L),
          (6L, 6L), (6L, 6L))))
    val ints = clique(Seq(1L, 2L, 3L, 9L)).toDF("src", "dst")
      .select($"src".cast("int").as("src"), $"dst".cast("int").as("dst"))
    // a null endpoint is not a node: its row drops before either path
    val nulls = Seq[(Option[Long], Option[Long])]((Some(1L), Some(2L)),
      (Some(2L), Some(1L)), (Some(2L), None), (None, Some(3L)), (None, None),
      (Some(3L), Some(1L)), (Some(1L), Some(3L)), (Some(4L), None))
      .toDF("src", "dst")
    val intDups = (clique(Seq(7L, 8L)) ++ clique(Seq(7L, 8L)) ++
        Seq((9L, 7L), (9L, 8L), (9L, 9L))).toDF("src", "dst")
      .union(Seq[(Option[Long], Option[Long])]((None, Some(7L))).toDF("src", "dst"))
      .select($"src".cast("int").as("src"), $"dst".cast("int").as("dst"))
    val frames = long.map { case (name, es) => name -> es.toDF("src", "dst") } ++
      Seq("null endpoints" -> nulls, "int ids" -> ints,
        "int ids, duplicates and a null" -> intDups,
        "empty" -> Seq.empty[(Long, Long)].toDF("src", "dst"))
    for ((name, df) <- frames; symmetric <- Seq(false, true); rounds <- Seq(1, 3)) {
      val at = s"$name, symmetric=$symmetric, rounds=$rounds"
      val tier = Graph.labelPropagation(df, rounds, symmetric)
      val loop = GraphSpec.loopLabelPropagation(df, rounds, symmetric)
      assert(isLocal(tier) && !isLocal(loop), at)
      assert(tier.schema == loop.schema, at)
      assert(tier.collect().map(_.toString).sorted.toSeq ==
        loop.collect().map(_.toString).sorted.toSeq, at)
    }
    assert(Graph.labelPropagation(ints, 2, false).schema("node").dataType ==
      org.apache.spark.sql.types.IntegerType, "node keeps the int id type")
  }

  test("labelPropagation: string ids take the distributed loop") {
    val df = Seq(("1", "2"), ("2", "1"), ("2", "3"), ("3", "2")).toDF("src", "dst")
    val got = Graph.labelPropagation(df, rounds = 2)
    assert(!isLocal(got))
    assert(got.collect().map(_.toString).sorted.toSeq ==
      GraphSpec.loopLabelPropagation(df, 2, false).collect().map(_.toString)
        .sorted.toSeq)
  }

  test("labelPropagation: graft.graph.maxDegree raises the named cap " +
      "error on the driver tier too") {
    val star = (1L to 5L).flatMap(l => Seq((9L, l), (l, 9L))).toDF("src", "dst")
    spark.conf.set("graft.graph.maxDegree", "3")
    try {
      val err = intercept[Exception] {
        Graph.labelPropagation(star, rounds = 2, symmetric = true).collect()
      }
      assert(err.getMessage.contains("graft.graph.maxDegree"), err.getMessage)
      assert(err.getMessage.contains("node 9"), err.getMessage)
    } finally spark.conf.unset("graft.graph.maxDegree")
    assert(isLocal(Graph.labelPropagation(star, rounds = 2, symmetric = true)))
  }

  /** (group, member) rows as a `g`, `m` membership frame. */
  private def memberships(rows: (Option[Long], Option[Long])*) =
    rows.toDF("g", "m")

  test("co-occurrence tier ≡ distributed path — same rows and schema on " +
      "overlapping groups, a null group, null members, duplicate rows, " +
      "singleton groups, int ids, negative ids and empty input") {
    def rows(gs: (Long, Seq[Long])*) =
      gs.flatMap { case (g, ms) => ms.map(m => (Option(g), Option(m))) }
    // the same pair comes from several groups; 3 is in three of them
    val overlapping = rows(1L -> Seq(1L, 2L, 3L), 2L -> Seq(2L, 3L, 4L),
      3L -> Seq(3L, 4L, 5L), 4L -> Seq(10L, 11L), 5L -> Seq(11L, 12L),
      6L -> Seq(1L, 2L), 7L -> Seq(0L, 1L, 2L, 3L, 4L, 5L, 6L))
    val fixtures = Seq(
      "overlapping groups" -> memberships(overlapping: _*),
      // a group's rows in several partitions: the sizing Σ is a lower bound
      "overlapping groups, repartitioned" ->
        memberships(overlapping: _*).repartition(3),
      // the null group is one group, as groupBy makes it
      "a null group" -> memberships((None, Some(1L)), (None, Some(2L)),
        (None, Some(7L)), (Some(1L), Some(1L)), (Some(1L), Some(3L)),
        (None, Some(7L))),
      // a null member is in no group; an all-null group has no pair
      "null members" -> memberships((Some(1L), None), (Some(1L), Some(2L)),
        (Some(1L), Some(3L)), (Some(2L), None), (Some(3L), None),
        (Some(3L), Some(4L)), (None, None), (Some(3L), Some(2L))),
      // repeated rows are one member, as collect_set keeps them
      "duplicate rows" -> memberships(rows(1L -> Seq(1L, 1L, 2L, 2L),
        2L -> Seq(2L, 3L, 3L, 2L), 3L -> Seq(5L, 5L)): _*),
      "singleton groups" -> memberships(rows(1L -> Seq(1L), 2L -> Seq(2L),
        3L -> Seq(3L), 4L -> Seq(3L, 5L), 5L -> Seq(6L)): _*),
      "int ids" -> memberships(overlapping: _*)
        .select($"g".cast("int").as("g"), $"m".cast("int").as("m")),
      "int members, long groups" -> memberships(overlapping: _*)
        .select($"g", $"m".cast("int").as("m")),
      "negative ids" -> memberships(rows(Long.MinValue -> Seq(-5L, Long.MaxValue, 0L),
        -1L -> Seq(Long.MinValue, -5L), Long.MaxValue -> Seq(Long.MinValue,
          Long.MaxValue), 0L -> Seq(7L, -5L, -1L)): _*),
      "empty" -> memberships())
    for ((name, df) <- fixtures; rounds <- Seq(1, 3)) {
      val at = s"$name, rounds=$rounds"
      val tier = Graph.coOccurrenceLabels(df, "g", "m", rounds)
      val loop = Graph.coOccurrenceLabels(df, "g", "m", rounds, 0L)
      assert(isLocal(tier) && !isLocal(loop), at)
      assert(tier.schema == loop.schema, at)
      assert(tier.collect().map(_.toString).sorted.toSeq ==
        loop.collect().map(_.toString).sorted.toSeq, at)
    }
  }

  test("coOccurrenceLabels: string ids take the loop; a decimal group " +
      "skips the co-occurrence tier without a job") {
    val strings = Seq(("a", "1"), ("a", "2"), ("b", "2"), ("b", "3"))
      .toDF("g", "m")
    val got = Graph.coOccurrenceLabels(strings, "g", "m", 2)
    assert(!isLocal(got))
    assert(got.collect().map(_.toString).sorted.toSeq ==
      Graph.coOccurrenceLabels(strings, "g", "m", 2, 0L).collect()
        .map(_.toString).sorted.toSeq)
    val decimal = memberships((Some(1L), Some(1L)), (Some(1L), Some(2L)),
        (Some(2L), Some(2L)), (Some(2L), Some(3L)))
      .select($"g".cast("decimal(20,0)").as("g"), $"m")
    var none: Option[Array[Array[Long]]] = Some(Array.empty)
    assert(jobsOf {
      none = Graph.localCoOccurrence(decimal, "g", "m", Graph.LocalMaxEdges)
    } == 0)
    assert(none.isEmpty)
    // the distributed expression runs, its own edge tier included
    assert(Graph.coOccurrenceLabels(decimal, "g", "m", 2).collect().map(_.toString)
      .sorted.toSeq == Graph.coOccurrenceLabels(decimal, "g", "m", 2, 0L)
      .collect().map(_.toString).sorted.toSeq)
  }

  test("coOccurrenceLabels: graft.graph.maxDegree raises the named cap " +
      "error on the co-occurrence tier") {
    // node 9 shares a group with each of 1..5: degree 5
    val star = memberships((1L to 5L).flatMap(g =>
      Seq((Some(g), Some(9L)), (Some(g), Some(g)))): _*)
    spark.conf.set("graft.graph.maxDegree", "3")
    try {
      val err = intercept[Exception] {
        Graph.coOccurrenceLabels(star, "g", "m", 2).collect()
      }
      assert(err.getMessage.contains("graft.graph.maxDegree"), err.getMessage)
      assert(err.getMessage.contains("node 9"), err.getMessage)
    } finally spark.conf.unset("graft.graph.maxDegree")
    assert(isLocal(Graph.coOccurrenceLabels(star, "g", "m", 2)))
  }

  test("a nondeterministic input never reaches a tier's two reads: the " +
      "edge and membership tiers refuse it without a job; past its " +
      "barrier the distributed path reads it once") {
    import org.apache.spark.sql.functions.rand
    val edges = floorEdges.filter(rand(7) < 0.5)
    assert(!isLocal(Graph.labelPropagation(edges, 3, symmetric = false)))
    assert(Graph.labelPropagation(edges, 3, symmetric = false).collect()
      .map(_.toString).sorted.toSeq == GraphSpec.loopLabelPropagation(
        edges, 3, false).collect().map(_.toString).sorted.toSeq)
    val members = memberships((1L to 40L).map(i =>
      (Some(i % 7), Some(i % 11))): _*).filter(rand(7) < 0.5)
    val pairs = floorEdges.toDF("id_a", "id_b").filter(rand(7) < 0.5)
    for ((name, tier) <- Seq[(String, () => Option[Array[Array[Long]]])](
        "localPairs" -> (() => Graph.localPairs(edges, "src", "dst", Graph.LocalMaxEdges)),
        "localCoOccurrence" -> (() =>
          Graph.localCoOccurrence(members, "g", "m", Graph.LocalMaxEdges)))) {
      var got: Option[Array[Array[Long]]] = Some(Array.empty)
      assert(jobsOf { got = tier() } == 0 && got.isEmpty, name)
    }
    // their deterministic twins do take the tier
    assert(Graph.localPairs(floorEdges, "src", "dst", Graph.LocalMaxEdges).isDefined)
    assert(Graph.localCoOccurrence(memberships((Some(1L), Some(2L))), "g", "m",
      Graph.LocalMaxEdges).isDefined)
    // coOccurrenceLabels and connectedComponents read the input once,
    // through a localCheckpoint, before any tier sees it: the checkpointed
    // rows are deterministic, and the results equal the loop's
    assert(Graph.coOccurrenceLabels(members, "g", "m", 3).collect()
      .map(_.toString).sorted.toSeq == Graph.coOccurrenceLabels(members, "g",
        "m", 3, 0L).collect().map(_.toString).sorted.toSeq)
    assert(Dedup.connectedComponents(pairs).collect().map(_.toString).sorted
      .toSeq == Dedup.connectedComponents(pairs, "id_a", "id_b", 50, 0L)
      .collect().map(_.toString).sorted.toSeq)
  }

  test("degreeAssortativity: mirrored star is exactly -1 (hub meets " +
      "leaves only); regular cycle has zero degree variance → null; " +
      "layout-invariant") {
    // star: hub 9 ↔ leaves 1..3, mirrored → degrees hub 3, leaves 1;
    // sums are perfect squares so the double tree lands on exactly -1
    val star = (1L to 3L).flatMap(l => Seq((9L, l), (l, 9L))).toDF("src", "dst")
    val s = Graph.degreeAssortativity(star)
      .as[(Long, Option[Double])].collect().head
    assert(s == ((6L, Some(-1.0))), s"got $s")
    val rep = Graph.degreeAssortativity(star.repartition(5))
      .as[(Long, Option[Double])].collect().head
    assert(s == rep)
    // 4-cycle mirrored: every degree 2 → zero variance → null
    val cyc = (0L to 3L).flatMap(i => Seq((i, (i + 1) % 4), ((i + 1) % 4, i)))
      .toDF("src", "dst")
    val c = Graph.degreeAssortativity(cyc)
      .as[(Long, Option[Double])].collect().head
    assert(c == ((8L, None)), s"got $c")
  }

  test("degreeAssortativity: directed list with a pure sink keeps every " +
      "edge (dy = 0 via left join), n_edges exact") {
    // out-degrees: 1→2, 3→1, 2→0 (sink). Edges (dx,dy): (1,2)→(2,0),
    // (1,3)→(2,1), (3,2)→(1,0). An inner join would drop both edges
    // into the sink (n_edges 1); the contract keeps all 3:
    // num = 3·2−5·1 = 1, vx = 3·9−25 = 2, vy = 3·1−1 = 2 → r = 0.5
    val e = Seq((1L, 2L), (1L, 3L), (3L, 2L)).toDF("src", "dst")
    val got = Graph.degreeAssortativity(e)
      .as[(Long, Option[Double])].collect().head
    assert(got._1 == 3L, s"got $got")
    assert(math.abs(got._2.get - 0.5) < 1e-12, s"got $got")
  }

  test("pageRank redistributeDangling: bit-parity with the default path " +
      "on a dangling-free graph; conserves total mass on a sink graph") {
    // mirrored square: no dangling nodes → flag must be a bit-exact no-op
    val sq = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L))
      .flatMap { case (a, b) => Seq((a, b), (b, a)) }.toDF("src", "dst")
    val off = Graph.pageRank(sq, iterations = 3)
      .as[(Long, Long)].collect().sortBy(_._1).toSeq
    val on = Graph.pageRank(sq, iterations = 3, redistributeDangling = true)
      .as[(Long, Long)].collect().sortBy(_._1).toSeq
    assert(off == on)
    // directed star a→b, a→c: b and c are pure sinks. Default leaks their
    // whole mass every round; redistribution keeps Σpr at 1e12 up to the
    // documented ≤1-unit floor leaks per node per round.
    val star = Seq((1L, 2L), (1L, 3L)).toDF("src", "dst")
    val cons = Graph.pageRank(star, iterations = 4,
      redistributeDangling = true).as[(Long, Long)].collect()
    val leak = Graph.pageRank(star, iterations = 4)
      .as[(Long, Long)].collect()
    assert(math.abs(cons.map(_._2).sum - 1000000000000L) <= 3 * 4 * 2,
      s"conserving sum ${cons.map(_._2).sum}")
    assert(leak.map(_._2).sum < 900000000000L, // default really leaks
      s"leaking sum ${leak.map(_._2).sum}")
    // round-1 hand check (n=3, base=5e10): a gets base + 85%·share only
    val m = cons.toMap
    assert(m.keySet == Set(1L, 2L, 3L))
  }

  test("guardDegree: graft.graph.maxDegree fails with a named error " +
      "instead of building an oversized adjacency row") {
    val star = (1L to 5L).map(l => (9L, l)).toDF("src", "dst")
    spark.conf.set("graft.graph.maxDegree", "3")
    try {
      val err = intercept[Exception] {
        Graph.pageRank(star, iterations = 1).collect()
      }
      assert(err.getMessage.contains("graft.graph.maxDegree"),
        err.getMessage)
      assert(err.getMessage.contains("node 9"), err.getMessage)
      // under the cap: same graph passes
      spark.conf.set("graft.graph.maxDegree", "5")
      assert(Graph.pageRank(star, iterations = 1).count() == 6L)
    } finally spark.conf.unset("graft.graph.maxDegree")
  }

  test("clusteringCoefficient: hand-computed — K3 corner cc=1, bridge " +
      "node normalized down, pendant (deg<2) excluded") {
    // triangle {1,2,3} + pendant edge 3–4: cc(1)=cc(2)=2·1/(2·1)=1 →
    // 1e6; cc(3)=2·1/(3·2)=1/3 → 333333; node 4 deg 1 → absent
    val df = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L)).toDF("src", "dst")
    val got = Graph.clusteringCoefficient(df)
      .select($"node", $"degree", $"n_triangles", $"cc_x6")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(got == Set(
      (1L, 2L, 1L, 1000000L),
      (2L, 2L, 1L, 1000000L),
      (3L, 3L, 1L, 333333L)))
  }

  test("clusteringCoefficient: triangle-free node of degree >= 2 appears " +
      "with cc 0; duplicate/mirrored edges collapse") {
    // path 1–2–3 given with duplicates and both directions
    val df = Seq((1L, 2L), (2L, 1L), (2L, 3L), (2L, 3L)).toDF("src", "dst")
    val got = Graph.clusteringCoefficient(df)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(got == Set((2L, 2L, 0L, 0L)))
  }

  test("modularity: two bridged triangles under the true 2-community " +
      "labeling — hand-computed terms; mislabeling scores lower") {
    // K3 {1,2,3} + K3 {4,5,6} + bridge 3–4: m=7, d_A=d_B=7, e_A=e_B=3
    // term = (4·7·3 − 49)/(4·49) = 35/196 → floor(1e9·35/196) = 178571428
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (4L, 5L), (5L, 6L),
      (6L, 4L), (3L, 4L)).toDF("src", "dst")
    val good = Seq((1L, "A"), (2L, "A"), (3L, "A"), (4L, "B"), (5L, "B"),
      (6L, "B")).toDF("node", "label")
    val got = Graph.modularity(edges, good)
      .as[(String, Long, Long, Long, Long)].collect().toSet
    assert(got == Set(("A", 3L, 7L, 3L, 178571428L),
      ("B", 3L, 7L, 3L, 178571428L)))
    // everything in one community: Q = e/m − (2m/2m)² = 0 exactly
    val onecls = good.select($"node",
      org.apache.spark.sql.functions.lit("X").as("label"))
    val one = Graph.modularity(edges, onecls)
      .as[(String, Long, Long, Long, Long)].collect()
    assert(one.toSeq == Seq(("X", 6L, 14L, 7L, 0L)))
    // the good split strictly beats the single community total
    assert(got.toSeq.map(_._5).sum > one.map(_._5).sum)
  }

  test("modularity: unlabeled nodes keep their edges in m but join no " +
      "community term (partial-coverage contract)") {
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val labels = Seq((1L, "A"), (2L, "A")).toDF("node", "label")
    // m=2; community A: nodes {1,2}, d_A=1+2=3, e_A=1 (edge 2–3 has an
    // unlabeled endpoint) → (4·2·1 − 9)/(4·4) = −1/16 → floor(−62500000.0)
    val got = Graph.modularity(edges, labels)
      .as[(String, Long, Long, Long, Long)].collect()
    assert(got.toSeq == Seq(("A", 2L, 3L, 1L, -62500000L)))
  }

  test("modularity / contractGraph: duplicate label rows fail loudly " +
      "with the node id — they would silently multiply intra_edges and " +
      "contraction weights through the two edge joins") {
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val dup = Seq((1L, "A"), (2L, "A"), (2L, "B"), (3L, "B"))
      .toDF("node", "label")
    val e1 = intercept[Exception] { Graph.modularity(edges, dup).collect() }
    assert(e1.getMessage.contains("duplicate label rows for node 2"),
      e1.getMessage)
    val e2 = intercept[Exception] {
      Graph.contractGraph(edges, dup).collect()
    }
    assert(e2.getMessage.contains("duplicate label rows for node 2"),
      e2.getMessage)
    // exact duplicates of the SAME (node, label) row are duplicates too
    val dup2 = Seq((1L, "A"), (2L, "A"), (2L, "A"), (3L, "B"))
      .toDF("node", "label")
    val e3 = intercept[Exception] { Graph.modularity(edges, dup2).collect() }
    assert(e3.getMessage.contains("duplicate label rows"), e3.getMessage)
  }

  test("modularityMoves: bridged triangles, 2 rounds hand-traced — " +
      "integer move scores, smallest-label ties, sync oscillation pinned") {
    // K3 {1,2,3} + K3 {4,5,6} + bridge 3–4 (m=7, 2m=14). Round 1 (all in
    // own community, Σtot(C)=k_C): each node moves to its best neighbor
    // label — e.g. node 1: s(2)=14−2·2=10 beats s(3)=14−2·3=8 and
    // stay=0. Round 2 hand-traced the same way; the 5↔6 swap is the
    // documented synchronous-round oscillation (the LPA 2-cycle
    // contract), pinned here exactly.
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (4L, 5L), (5L, 6L),
      (6L, 4L), (3L, 4L)).toDF("src", "dst")
    val r1 = Graph.modularityMoves(edges, rounds = 1)
      .as[(Long, Long)].collect().toMap
    assert(r1 == Map(1L -> 2L, 2L -> 1L, 3L -> 1L, 4L -> 5L, 5L -> 6L,
      6L -> 5L))
    val r2 = Graph.modularityMoves(edges, rounds = 2)
      .as[(Long, Long)].collect().toMap
    assert(r2 == Map(1L -> 1L, 2L -> 2L, 3L -> 1L, 4L -> 5L, 5L -> 5L,
      6L -> 6L))
  }

  test("contractGraph: bridged triangles roll up to a 2-community graph " +
      "with self-loop intra weights; unlabeled endpoint fails loudly") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (4L, 5L), (5L, 6L),
      (6L, 4L), (3L, 4L)).toDF("src", "dst")
    val labels = Seq((1L, "A"), (2L, "A"), (3L, "A"), (4L, "B"), (5L, "B"),
      (6L, "B")).toDF("node", "label")
    val got = Graph.contractGraph(edges, labels)
      .as[(String, String, Long)].collect().toSet
    assert(got == Set(("A", "A", 3L), ("A", "B", 1L), ("B", "B", 3L)))
    val err = intercept[Exception] {
      Graph.contractGraph(edges, labels.filter($"node" =!= 6L)).collect()
    }
    assert(err.getMessage.contains("unlabeled edge endpoint"),
      err.getMessage)
  }

  test("betweennessDependencies: diamond, path, and multi-seed hand " +
      "cases — 1e9-unit integer delta, exact truncation composition") {
    // diamond 1-2, 1-3, 2-4, 3-4 (mirrored), seed {1}:
    // sigma: 1,1,1,2; delta: d4=0, d2=d3=floor(1e9/2)=5e8,
    // d1=2*floor(1*(1e9+5e8)/1)=3e9
    val diamond = Seq((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L))
    val dEdges = (diamond ++ diamond.map(_.swap)).toDF("src", "dst")
    def run(edges: org.apache.spark.sql.DataFrame, seeds: Seq[Long],
        rounds: Int) =
      Graph.betweennessDependencies(edges,
          seeds.toDF("node"), rounds, symmetric = true)
        .select($"node", $"dist", $"sigma".cast("long"),
          $"delta_x9".cast("long"))
        .as[(Long, Long, Long, Long)].collect().toSet
    assert(run(dEdges, Seq(1L), 4) == Set(
      (1L, 0L, 1L, 3000000000L), (2L, 1L, 1L, 500000000L),
      (3L, 1L, 1L, 500000000L), (4L, 2L, 2L, 0L)))
    // multi-seed {1,4}: sigma(2)=sigma(3)=2, deltas 1e9 on both seeds
    assert(run(dEdges, Seq(1L, 4L), 4) == Set(
      (1L, 0L, 1L, 1000000000L), (4L, 0L, 1L, 1000000000L),
      (2L, 1L, 2L, 0L), (3L, 1L, 2L, 0L)))
    // path 1-2-3-4-5, seed {1}: delta ranks interior cut vertices
    // monotonically; horizon rounds=2 truncates the DAG and the deltas
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
    val pEdges = (path ++ path.map(_.swap)).toDF("src", "dst")
    assert(run(pEdges, Seq(1L), 4) == Set(
      (1L, 0L, 1L, 4000000000L), (2L, 1L, 1L, 3000000000L),
      (3L, 2L, 1L, 2000000000L), (4L, 3L, 1L, 1000000000L),
      (5L, 4L, 1L, 0L)))
    assert(run(pEdges, Seq(1L), 2) == Set(
      (1L, 0L, 1L, 2000000000L), (2L, 1L, 1L, 1000000000L),
      (3L, 2L, 1L, 0L)))
  }

  test("betweennessSampled: k = n reproduces exact betweenness (hand " +
      "cases); (n/k) estimator scaling; endpoints excluded") {
    def run(edges: org.apache.spark.sql.DataFrame, k: Int) =
      Graph.betweennessSampled(edges, k, rounds = 4, symmetric = true)
        .select($"node", $"delta_sum_x9".cast("long"),
          $"bet_est_x9".cast("long"))
        .as[(Long, Long, Long)].collect().toSet
    // path 1-2-3: only node 2 lies interior; per directed-source-sum
    // convention its betweenness is 2 (sources 1 and 3) → 2e9 in x9 units
    val path = Seq((1L, 2L), (2L, 3L))
    val pEdges = (path ++ path.map(_.swap)).toDF("src", "dst")
    assert(run(pEdges, 3) == Set(
      (1L, 0L, 0L), (2L, 2000000000L, 2000000000L), (3L, 0L, 0L)))
    // diamond 1-2,1-3,2-4,3-4 is vertex-transitive: every node is
    // interior to exactly one opposite pair (2/3 split the 1↔4 paths,
    // 1/4 split the 2↔3 paths), each carrying 2·⌊1e9/2⌋ = 1e9
    val diamond = Seq((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L))
    val dEdges = (diamond ++ diamond.map(_.swap)).toDF("src", "dst")
    assert(run(dEdges, 4) == Set(
      (1L, 1000000000L, 1000000000L), (2L, 1000000000L, 1000000000L),
      (3L, 1000000000L, 1000000000L), (4L, 1000000000L, 1000000000L)))
    // k = 1 on the path graph: whatever single source the md5 order
    // picks, est = delta_sum · n / k = 3 · delta_sum exactly
    val one = run(pEdges, 1)
    assert(one.nonEmpty)
    one.foreach { case (_, ds, est) => assert(est == ds * 3) }
    // sampling fewer sources only shrinks per-node sums (subset of terms)
    val two = run(pEdges, 2).map { case (nd, ds, _) => nd -> ds }.toMap
    val all = run(pEdges, 3).map { case (nd, ds, _) => nd -> ds }.toMap
    two.foreach { case (nd, ds) => assert(ds <= all(nd)) }
  }

  test("betweennessDependencies: layout invariance — repartitioned / " +
      "shuffled edge input yields identical bits") {
    val half = Seq((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L), (4L, 5L),
      (2L, 5L), (5L, 6L), (3L, 6L))
    val edges = (half ++ half.map(_.swap)).toDF("src", "dst")
    val seeds = Seq(1L).toDF("node")
    def bits(e: org.apache.spark.sql.DataFrame) =
      Graph.betweennessDependencies(e, seeds, rounds = 4, symmetric = true)
        .collect().map(_.toString).sorted.toSeq
    assert(bits(edges) == bits(edges.repartition(7).orderBy($"dst")))
  }

  test("brandes_term: exact integer quotient (including the 128-bit " +
      "product path); loud failure past BIGINT instead of a silent null") {
    val d = Seq((7L, 1500000000L, 3L)).toDF("sv", "dw", "sw")
    // 7*(1e9+1.5e9)/3 = 17500000000/3 = 5833333333 (truncated)
    val got = d.select(graft.functions.BrandesTerm($"sv", $"dw", $"sw"))
      .head().getLong(0)
    assert(got == 5833333333L)
    // 128-bit product, quotient back inside BIGINT: sv*(1e9+dw) tops 2^63
    // but /sw lands exactly — the multiplyHigh fallback must stay exact
    val wide = Seq((1L << 62, (1L << 40) - 1000000000L, 1L << 41))
      .toDF("sv", "dw", "sw")
    val wideGot = wide
      .select(graft.functions.BrandesTerm($"sv", $"dw", $"sw"))
      .head().getLong(0)
    // (2^62 * 2^40) / 2^41 = 2^61
    assert(wideGot == (1L << 61))
    import org.apache.spark.sql.functions.lit
    val big = Seq(1).toDF("x").select(
      lit(Long.MaxValue).as("sv"), lit(0L).as("dw"), lit(1L).as("sw"))
    val err = intercept[Exception] {
      big.select(graft.functions.BrandesTerm($"sv", $"dw", $"sw")).collect()
    }
    assert(err.getMessage.contains("exceeds BIGINT") ||
      err.getCause != null &&
        err.getCause.getMessage.contains("exceeds BIGINT"),
      err.getMessage)
  }

  test("canonicalFrame seal: a FALSE canonical=true assertion trips the " +
      "debug guard (u<v violation and duplicate pair), and a genuinely " +
      "canonical frame passes it") {
    spark.conf.set("graft.graph.debugCanonical", "true")
    try {
      // mirrored (non-canonical) edges asserted canonical: u<v violated
      val mirrored = Seq((1L, 2L), (2L, 1L), (1L, 3L)).toDF("src", "dst")
      val e1 = intercept[Exception] {
        Graph.modularityMoves(mirrored, rounds = 1, canonical = true)
          .collect()
      }
      def msg(t: Throwable): String =
        if (t == null) "" else t.getMessage + msg(t.getCause)
      assert(msg(e1).contains("canonical assertion is false"), msg(e1))
      // duplicated pair asserted canonical: driver-side probe trips
      val duped = Seq((1L, 2L), (1L, 2L), (1L, 3L)).toDF("src", "dst")
      val e2 = intercept[Exception] {
        Graph.modularityMoves(duped, rounds = 1, canonical = true).collect()
      }
      assert(msg(e2).contains("canonical assertion is false"), msg(e2))
      // a genuinely canonical frame passes the debug probes with the
      // same labels as the unasserted path
      val canon = Seq((1L, 2L), (1L, 3L), (2L, 3L)).toDF("src", "dst")
      val sealed_ = Graph.modularityMoves(canon, rounds = 1,
        canonical = true).as[(Long, Long)].collect().toMap
      val plain = Graph.modularityMoves(
        (Seq((1L, 2L), (1L, 3L), (2L, 3L)) ++
          Seq((2L, 1L), (3L, 1L), (3L, 2L))).toDF("src", "dst"),
        rounds = 1).as[(Long, Long)].collect().toMap
      assert(sealed_ == plain)
    } finally spark.conf.set("graft.graph.debugCanonical", "false")
  }

  test("louvain: two-level planted-community fixture recovers both " +
      "levels; the modularity gate stops a third level") {
    // four K4 cliques; 5 bridges A–B and C–D (above the merge threshold
    // w_ij > d_i·d_j/2m), ONE bridge B–C (below it); bridges avoid each
    // clique's minimum node (the monotone-move absorber)
    def clique(ns: Seq[Long]) = for (x <- ns; y <- ns if x < y) yield (x, y)
    val half = clique(Seq(1L, 2L, 3L, 4L)) ++ clique(Seq(5L, 6L, 7L, 8L)) ++
      clique(Seq(9L, 10L, 11L, 12L)) ++ clique(Seq(13L, 14L, 15L, 16L)) ++
      Seq((2L, 6L), (3L, 7L), (4L, 8L), (2L, 8L), (3L, 8L),
        (10L, 14L), (11L, 15L), (12L, 16L), (10L, 16L), (11L, 16L),
        (6L, 10L))
    val edges = (half ++ half.map(_.swap)).toDF("src", "dst")
    def communities(levels: Int): Map[Long, Seq[Long]] =
      Graph.louvain(edges, levels = levels, rounds = 2)
        .as[(Long, Long)].collect().groupBy(_._2)
        .map { case (l, m) => l -> m.map(_._1).toSeq.sorted }
    // level 1: the four cliques
    assert(communities(1) == Map(
      1L -> Seq(1L, 2L, 3L, 4L), 5L -> Seq(5L, 6L, 7L, 8L),
      9L -> Seq(9L, 10L, 11L, 12L), 13L -> Seq(13L, 14L, 15L, 16L)))
    // level 2: the two planted super-communities
    val two = Map(1L -> (1L to 8L).toSeq, 9L -> (9L to 16L).toSeq)
    assert(communities(2) == two)
    // level 3: the weak B–C bridge is below the merge threshold — the
    // modularity gate refuses the level and keeps level 2
    assert(communities(3) == two)
  }

  test("modularityMovesWeighted: coarse-pair absorb WITHOUT the " +
      "synchronous swap (monotone rule); weighted gain refuses a " +
      "modularity-negative merge") {
    // self-loops 1 each, bridge weight 3: merge gain positive -> node 2
    // joins 1 in one round and STAYS (no oscillation at round 2)
    val strong = Seq((1L, 1L, 1L), (1L, 2L, 3L), (2L, 2L, 1L))
      .toDF("u", "v", "w")
    assert(Graph.modularityMovesWeighted(strong, rounds = 1)
      .as[(Long, Long)].collect().toMap == Map(1L -> 1L, 2L -> 1L))
    assert(Graph.modularityMovesWeighted(strong, rounds = 2)
      .as[(Long, Long)].collect().toMap == Map(1L -> 1L, 2L -> 1L))
    // self-loops 3 each, bridge 3: w12/m = 1/3 < k1k2/2m² = 1/2 — the
    // weighted gain is negative, both communities stay
    val weak = Seq((1L, 1L, 3L), (1L, 2L, 3L), (2L, 2L, 3L))
      .toDF("u", "v", "w")
    assert(Graph.modularityMovesWeighted(weak, rounds = 2)
      .as[(Long, Long)].collect().toMap == Map(1L -> 1L, 2L -> 2L))
  }

  test("contractGraphWeighted: weights SUM through the rollup; intra " +
      "mass lands on self-loops; duplicate labels fail loudly") {
    val w = Seq((1L, 2L, 5L), (2L, 3L, 7L), (3L, 4L, 1L), (4L, 4L, 9L))
      .toDF("u", "v", "w")
    val lbl = Seq((1L, 10L), (2L, 10L), (3L, 20L), (4L, 20L))
      .toDF("node", "label")
    val got = Graph.contractGraphWeighted(w, lbl)
      .as[(Long, Long, Long)].collect().toSet
    assert(got == Set((10L, 10L, 5L), (10L, 20L, 7L), (20L, 20L, 10L)))
    val err = intercept[Exception] {
      Graph.contractGraphWeighted(w,
        lbl.unionByName(Seq((1L, 30L)).toDF("node", "label"))).collect()
    }
    assert(err.getMessage.contains("duplicate label rows"), err.getMessage)
  }

  test("bfsPathCounts: diamond sigma doubles at the merge node; " +
      "multi-seed sums over all nearest seeds; horizon bounds") {
    // diamond 1-2, 1-3, 2-4, 3-4 (mirrored): from {1}, node 4 has two
    // shortest paths (via 2 and via 3)
    val half = Seq((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L))
    val edges = (half ++ half.map(_.swap)).toDF("src", "dst")
    val from1 = Graph.bfsPathCounts(edges, Seq(1L).toDF("node"),
        rounds = 4, symmetric = true)
      .select($"node", $"dist", $"sigma".cast("long"))
      .as[(Long, Long, Long)].collect().toSet
    assert(from1 == Set((1L, 0L, 1L), (2L, 1L, 1L), (3L, 1L, 1L),
      (4L, 2L, 2L)))
    // seeds {1, 4}: nodes 2 and 3 are one hop from BOTH seeds — sigma 2
    val from14 = Graph.bfsPathCounts(edges, Seq(1L, 4L).toDF("node"),
        rounds = 4, symmetric = true)
      .select($"node", $"dist", $"sigma".cast("long"))
      .as[(Long, Long, Long)].collect().toSet
    assert(from14 == Set((1L, 0L, 1L), (4L, 0L, 1L), (2L, 1L, 2L),
      (3L, 1L, 2L)))
    // horizon: rounds = 1 from {1} never reaches node 4
    val bounded = Graph.bfsPathCounts(edges, Seq(1L).toDF("node"),
        rounds = 1, symmetric = true)
      .select($"node").as[Long].collect().toSet
    assert(bounded == Set(1L, 2L, 3L))
  }

  test("labelPropagation: a node with no in-neighbors keeps its own label") {
    // 7 → 1 only: node 7 has no inbound edges, must keep label 7
    val df = Seq((7L, 1L)).toDF("src", "dst")
    for (lpa <- Seq[LpaRun](Graph.labelPropagation(_, _, _),
        GraphSpec.loopLabelPropagation)) {
      val got = lpa(df, 2, false).as[(Long, Long)].collect().toMap
      assert(got == Map(7L -> 7L, 1L -> 7L))
    }
  }

  test("kTruss: K4 is its own 4-truss, pendant edges drop, and peel " +
    "CASCADES (bounded rounds are a superset)") {
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
    val got = Graph.kTruss((k4 ++ Seq((4L, 9L))).toDF("src", "dst"), k = 4)
      .as[(Long, Long, Long)].collect().toSet
    assert(got == k4.map { case (u, v) => (u, v, 2L) }.toSet,
      s"K4 edges all in 2 triangles; pendant gone — got $got")
    // two triangles sharing edge (2,3): the shared edge has support 2 and
    // survives round 1, but its triangles die WITH the dropped outer
    // edges — only a second round sees that (the single-pass-filter bug)
    val twoTri = Seq((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (3L, 4L))
      .toDF("src", "dst")
    val oneRound = Graph.kTruss(twoTri, k = 4, rounds = 1)
      .as[(Long, Long, Long)].collect().toSet
    assert(oneRound == Set((2L, 3L, 0L)),
      s"bounded superset: shared edge still present after 1 round — $oneRound")
    assert(Graph.kTruss(twoTri, k = 4, rounds = 2).count() == 0L,
      "round 2 peels the starved shared edge")
    // 3-truss = every edge in ≥1 triangle: both triangles survive intact
    val t3 = Graph.kTruss(twoTri, k = 3, rounds = 2)
      .as[(Long, Long, Long)].collect().toSet
    assert(t3 == Set((1L, 2L, 1L), (1L, 3L, 1L), (2L, 3L, 2L),
      (2L, 4L, 1L), (3L, 4L, 1L)))
    val rep = Graph.kTruss(twoTri.repartition(7), k = 3, rounds = 2)
      .as[(Long, Long, Long)].collect().toSet
    assert(rep == t3, "kTruss must not depend on partition layout")
  }

  /** Local Luby replica under the same sign-flipped md5 priorities. */
  private def localMis(edges: Seq[(Long, Long)], rounds: Int): Set[(Long, Int)] = {
    val und = edges.filter(e => e._1 != e._2)
      .map(e => (math.min(e._1, e._2), math.max(e._1, e._2))).distinct
    val pri = (und.map(_._1) ++ und.map(_._2)).distinct
      .map(n => n -> (Dedup.md5Low64(s"mis:$n") ^ Long.MinValue)).toMap
    var alive = und
    var remaining = pri.keySet
    val out = scala.collection.mutable.Set[(Long, Int)]()
    for (r <- 1 to rounds) {
      val nbr = alive.flatMap(e => Seq(e, e.swap)).groupBy(_._1)
        .map { case (n, xs) => n -> xs.map(x => pri(x._2)).min }
      val winners = remaining.filter(n =>
        !nbr.contains(n) || pri(n) < nbr(n))
      winners.foreach(n => out += ((n, r)))
      val removed = winners ++ alive.flatMap(e => Seq(e, e.swap))
        .filter(e => winners(e._1)).map(_._2)
      remaining = remaining -- removed
      alive = alive.filter(e => remaining(e._1) && remaining(e._2))
    }
    out.toSet
  }

  test("maximalIndependentSet ≡ local Luby replica; independence and " +
    "maximality hold; layout-invariant") {
    // two cliques bridged + a path tail — forces multi-round progress
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
    val k3 = Seq((10L, 11L), (10L, 12L), (11L, 12L))
    val edges = k4 ++ k3 ++ Seq((4L, 10L), (12L, 20L), (20L, 21L), (21L, 22L))
    val df = edges.toDF("src", "dst")
    val got = Graph.maximalIndependentSet(df, rounds = 4)
      .as[(Long, Int)].collect().toSet
    assert(got == localMis(edges, 4), s"got $got")
    // independence: no selected pair is adjacent
    val sel = got.map(_._1)
    val adj = edges.flatMap(e => Seq(e, e.swap)).toSet
    assert(!edges.exists(e => sel(e._1) && sel(e._2)), "independence violated")
    // maximality: every unselected node has a selected neighbor
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).toSet
    (nodes -- sel).foreach { n =>
      assert(adj.exists { case (a, b) => a == n && sel(b) },
        s"node $n has no selected neighbor — not maximal")
    }
    val rep = Graph.maximalIndependentSet(df.repartition(7), rounds = 4)
      .as[(Long, Int)].collect().toSet
    assert(rep == got, "MIS must not depend on partition layout")
  }

  /** Exact coreness by classic peeling — the spec's oracle. */
  private def localCoreness(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val und = edges.filter(e => e._1 != e._2)
      .map(e => (math.min(e._1, e._2), math.max(e._1, e._2))).distinct
    var adj = und.flatMap(e => Seq(e, e.swap)).groupBy(_._1)
      .map { case (n, xs) => n -> xs.map(_._2).toSet }
    val core = scala.collection.mutable.Map[Long, Long]()
    var k = 1L
    while (adj.nonEmpty) {
      var changed = true
      while (changed) {
        val peel = adj.filter(_._2.size < k).keys.toSet
        changed = peel.nonEmpty
        peel.foreach { n => core(n) = k - 1 }
        adj = adj.collect {
          case (n, ns) if !peel(n) => n -> (ns -- peel)
        }
      }
      k += 1
    }
    core.toMap
  }

  test("coreness ≡ exact peeling once converged: K4 + pendant chain, " +
    "two bridged triangles") {
    // K4 (coreness 3 each) with a chain 4-10-11 hanging off (coreness 1)
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
    val g1 = k4 ++ Seq((4L, 10L), (10L, 11L))
    val got1 = Graph.coreness(g1.toDF("src", "dst"), rounds = 6)
      .as[(Long, Long)].collect().toMap
    assert(got1 == localCoreness(g1))
    assert(got1(1L) == 3L && got1(10L) == 1L && got1(11L) == 1L)
    // two triangles joined by a bridge: every node coreness 2 except none —
    // bridge endpoints are still in their triangle's 2-core
    val g2 = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L),
      (4L, 5L), (5L, 6L), (4L, 6L))
    val got2 = Graph.coreness(g2.toDF("src", "dst"), rounds = 6)
      .as[(Long, Long)].collect().toMap
    assert(got2 == localCoreness(g2))
    assert(got2.values.forall(_ == 2L))
  }

  test("coreness: bounded rounds upper-bound the exact core number and " +
    "are layout-invariant") {
    // long path: exact coreness is 1 everywhere but the h-index iteration
    // needs ~path-length rounds to settle in the middle — bounded rounds
    // must sit AT or ABOVE the exact value, never below
    val path = (1L to 12L).map(i => (i, i + 1))
    val exact = localCoreness(path)
    val bounded = Graph.coreness(path.toDF("src", "dst"), rounds = 2)
      .as[(Long, Long)].collect().toMap
    assert(bounded.keySet == exact.keySet)
    exact.foreach { case (n, c) => assert(bounded(n) >= c) }
    val a = Graph.coreness(path.toDF("src", "dst").repartition(7), rounds = 2)
      .as[(Long, Long)].collect().toMap
    assert(a == bounded, "coreness must not depend on partition layout")
  }

  // two bridged triangles plus a pendant tail, mirrored
  private lazy val floorEdges = {
    val half = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L), (4L, 5L),
      (4L, 6L), (5L, 6L), (6L, 7L))
    (half ++ half.map(_.swap)).toDF("src", "dst")
  }

  // the same graph as (group, member) rows: 16 mirrored pairs from 10 rows
  private lazy val floorMembers = Seq(1L -> Seq(1L, 2L, 3L), 2L -> Seq(3L, 4L),
      3L -> Seq(4L, 5L, 6L), 4L -> Seq(6L, 7L))
    .flatMap { case (g, ms) => ms.map((g, _)) }.toDF("g", "m")

  test("job floor: the round kernels run a fixed number of jobs — a " +
      "barrier turned eager or a probe added in a shared kernel changes " +
      "the count without changing any result") {
    val seeds = Seq(1L).toDF("node")
    val got = Map(
      "bfsHops" -> jobFloor(Graph.bfsHops(floorEdges, seeds, rounds = 4)),
      "bfsPathCounts" -> jobFloor(
        Graph.bfsPathCounts(floorEdges, seeds, rounds = 4)),
      "betweennessDependencies" -> jobFloor(
        Graph.betweennessDependencies(floorEdges, seeds, rounds = 4)),
      "labelPropagation" -> jobFloor(
        GraphSpec.loopLabelPropagation(floorEdges, 3, true)),
      "labelPropagation tier" -> jobFloor(
        Graph.labelPropagation(floorEdges, rounds = 3, symmetric = true)),
      "pageRank" -> jobFloor(
        Graph.pageRank(floorEdges, iterations = 5, symmetric = true)),
      "coOccurrenceLabels tier" -> jobFloor(
        Graph.coOccurrenceLabels(floorMembers, "g", "m", 3)),
      // over the bound (10 rows > 8): the sizing job, then today's path
      "coOccurrenceLabels over 8" -> jobFloor(
        Graph.coOccurrenceLabels(floorMembers, "g", "m", 3, 8L)),
      "labelPropagation over 8" -> jobFloor(Graph.labelPropagation(
        Graph.undirectedEdges(floorMembers.groupBy($"g")
          .agg(org.apache.spark.sql.functions.collect_set($"m").as("ps")), "ps"),
        3, true, 8L)))
    // BFS: the per-layer count jobs plus their AQE map stages; every
    // backward state and every PageRank/LPA round stays lazy
    assert(got("bfsHops") == (28, 1), got)
    assert(got("bfsPathCounts") == (28, 1), got)
    assert(got("labelPropagation") == (1, 9), got)
    // the tier: the edge-row count and the packed collect, both narrow
    // jobs while built; reading the local frame runs no job
    assert(got("labelPropagation tier") == (2, 0), got)
    // the co-occurrence tier: the sizing job and the row collect, no
    // shuffle and no checkpoint; a refusal costs the sizing job only
    assert(got("coOccurrenceLabels tier") == (2, 0), got)
    val (overBuilt, overRun) = got("labelPropagation over 8")
    assert(got("coOccurrenceLabels over 8") == (overBuilt + 1, overRun), got)
    assert(got("pageRank") == (3, 8), got)
    // the lazy backward states submit their AQE map stages while the
    // query is built, and one of those jobs races (51 or 52 build jobs,
    // both seen on the same fixture); an eager backward state would add
    // a job per layer
    val (bdBuilt, bdRun) = got("betweennessDependencies")
    assert((bdBuilt == 51 || bdBuilt == 52) && bdRun == 1, got)
  }

  test("betweennessSampled with k = 1 ≡ betweennessDependencies seeded " +
      "at the sampled source: per-node δ agrees") {
    import org.apache.spark.sql.functions.{col, lit}
    val s = floorEdges.select(col("src").as("node")).distinct()
      .orderBy(graft.functions.Md5Low64(col("node").cast("string"))
        .bitwiseXOR(lit(Long.MinValue)), col("node"))
      .as[Long].head()
    val sampled = Graph.betweennessSampled(floorEdges, k = 1, rounds = 4,
        symmetric = true)
      .select($"node", $"delta_sum_x9".cast("long"))
      .as[(Long, Long)].collect().toMap
    val single = Graph.betweennessDependencies(floorEdges, Seq(s).toDF("node"),
        rounds = 4, symmetric = true)
      .filter($"node" =!= s)
      .select($"node", $"delta_x9".cast("long"))
      .as[(Long, Long)].collect().toMap
    assert(sampled.size == 6 && !sampled.contains(s))
    assert(sampled == single)
  }
}

object GraphSpec {
  /** [[Graph.labelPropagation]] forced onto the distributed loop (tier
    * threshold 0) — shared with the plan audits outside `graft.ops`. */
  def loopLabelPropagation(edges: org.apache.spark.sql.DataFrame, rounds: Int,
      symmetric: Boolean): org.apache.spark.sql.DataFrame =
    Graph.labelPropagation(edges, rounds, symmetric, 0L)
}
