package graft

import graft.operators.DedupClusters

/** Parity gate for the driver union-find fast path in
  * [[DedupClusters.propagateMin]] (optimization r20): under the broadcast
  * ceiling the min-label fixpoint runs as one bounded collect + a driver
  * union-find; over it, the original distributed checkpoint-per-round
  * loop. Both paths must label every node with the minimum seeded value
  * reachable in its connected component — this spec runs the SAME graphs
  * through both paths (the distributed one forced via a tiny
  * `driverCeiling`) and requires identical label maps. */
class PropagateMinSpec extends SparkSpec {
  import spark.implicits._

  private def run(edges: Seq[(Long, Long)], init: Option[Seq[(Long, Long)]],
      ceiling: Long): Map[Long, Long] = {
    val e = edges.toDF("src", "dst")
    val i = init.map(_.toDF("doc_id", "component"))
    DedupClusters.propagateMin(e, i, driverCeiling = ceiling)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  private def both(edges0: Seq[(Long, Long)],
      init: Option[Seq[(Long, Long)]]): (Map[Long, Long], Map[Long, Long]) = {
    // callers always pass both directions — mirror that convention
    val edges = edges0 ++ edges0.map(_.swap)
    (run(edges, init, ceiling = graft.core.Resources.MaxBroadcastCandidateDocs),
      run(edges, init, ceiling = -1L)) // force the distributed loop
  }

  test("chain + separate component: driver and distributed labels agree") {
    val (fast, slow) = both(Seq((1L, 2L), (2L, 3L), (10L, 11L)), None)
    fast shouldBe slow
    fast shouldBe Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L)
  }

  test("init seeds propagate and init-only nodes keep their seed") {
    // node 5 bridges to 6; init says 5 belongs to component 2; node 99 is
    // init-only (no edges) and must appear with its seeded label
    val init = Some(Seq((5L, 2L), (99L, 40L)))
    val (fast, slow) = both(Seq((5L, 6L)), init)
    fast shouldBe slow
    fast shouldBe Map(5L -> 2L, 6L -> 2L, 99L -> 40L)
  }

  test("duplicate init rows take the min; seeds merge across edges") {
    val init = Some(Seq((7L, 30L), (7L, 20L), (8L, 10L)))
    val (fast, slow) = both(Seq((7L, 8L)), init)
    fast shouldBe slow
    fast shouldBe Map(7L -> 10L, 8L -> 10L)
  }

  test("larger random graph: identical fixpoints on both paths") {
    val rnd = new scala.util.Random(7)
    val edges = Seq.fill(300)((rnd.nextInt(120).toLong, rnd.nextInt(120).toLong))
      .filter { case (a, b) => a != b }
    val init = Some(Seq.fill(40)((rnd.nextInt(120).toLong, rnd.nextInt(200).toLong)))
    val (fast, slow) = both(edges, init)
    fast shouldBe slow
  }
}
