package graft.ops

import graft.SparkSpec

class HierarchySpec extends SparkSpec {
  import spark.implicits._

  private def closure(edges: (Long, Long)*): Set[(Long, Long, Int)] =
    Hierarchy.ancestors(edges.toDF("c", "p"), "c", "p")
      .as[(Long, Long, Int)].collect().toSet

  test("ancestors: chain closes with depths; roots contribute nothing") {
    // 3 -> 2 -> 1 (1 is a root: no outgoing edge)
    assert(closure((3L, 2L), (2L, 1L)) ==
      Set((3L, 2L, 1), (2L, 1L, 1), (3L, 1L, 2)))
  }

  test("ancestors: diamond reaches the apex once per path") {
    // 4 -> {2, 3} -> 1: the apex appears via both paths (closure is a bag
    // of (node, anc, depth) — both depth-2 rows are real paths)
    val c = closure((4L, 2L), (4L, 3L), (2L, 1L), (3L, 1L))
    assert(c.contains((4L, 1L, 2)))
    assert(c.count(_._1 == 4L) == 3) // (4,2,1) (4,3,1); 1-via-2 ≡ 1-via-3 in the Set
  }

  test("ancestors: cycle is cut by the depth cap, no hang") {
    val df = Seq((1L, 2L), (2L, 1L)).toDF("c", "p")
    val got = Hierarchy.ancestors(df, "c", "p", maxDepth = 5)
    assert(got.count() == 10) // 2 nodes x 5 depths
    assert(got.agg(org.apache.spark.sql.functions.max("depth"))
      .head().getInt(0) == 5)
  }
}
