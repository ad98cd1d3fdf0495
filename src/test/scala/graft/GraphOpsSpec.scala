package graft


/** Invariants for the graph-iteration operators (PageRank, canonical
  * selection) on the real sf0.001 tables — conservation and membership
  * properties beyond the oracle's value-equality check.
  */
class GraphOpsSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"
  private val R = 1000000000000L

  test("q154 PageRank: positive scores, near-conserved mass, symmetric degrees") {
    val rows = operators.Extras.q154.build(spark, dir)
      .select("part_key", "deg", "pr_e12").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    rows.length should be > 0
    all(rows.map(_._3)) should be > 0L
    // every integer division truncates: per node and per round the loss is
    // < deg (contrib) + 100 (damping) + 100 (base), so total mass can only
    // drift DOWN from R, and by far less than 1% on this graph
    val mass = rows.map(_._3).sum
    mass should be <= R
    mass.toDouble should be > R * 0.99
    // a node with more co-purchase partners than another, all else equal,
    // should not rank lower by an order of magnitude — sanity: the max-deg
    // node scores above the global minimum score
    val maxDegNode = rows.maxBy(_._2)
    maxDegNode._3 should be > rows.map(_._3).min
  }

  test("q161 triangle census agrees with brute force on the real graph") {
    val row = operators.Extras.q161.build(spark, dir).collect().head
    val (nNodes, nEdges, nWedges, nTri, ppm) =
      (row.getLong(0), row.getLong(1), row.getLong(2), row.getLong(3), row.getLong(4))
    // brute-force recount from the same distinct (order, part) projection
    val items = graft.core.Tables.lineitem(spark, dir)
      .select("l_orderkey", "l_partkey").distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val edges = items.groupBy(_._1).values.flatMap { basket =>
      val ps = basket.map(_._2).distinct.sorted
      for (i <- ps.indices; j <- (i + 1) until ps.length) yield (ps(i), ps(j))
    }.toSet
    val adj = edges.toSeq.flatMap { case (u, v) => Seq(u -> v, v -> u) }
      .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).toSet }
    nNodes shouldBe adj.size.toLong
    nEdges shouldBe edges.size.toLong
    nWedges shouldBe adj.values.map(s => s.size.toLong * (s.size - 1) / 2).sum
    val brute = edges.toSeq.map { case (u, v) =>
      (adj(u) intersect adj(v)).size.toLong
    }.sum / 3 // each triangle counted once per edge
    nTri shouldBe brute
    ppm shouldBe (if (nWedges == 0) 0L else 3 * nTri * 1000000 / nWedges)
  }

  test("q164 k-core peel agrees with a driver-side fixpoint") {
    val rows = operators.Extras.q164.build(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    // brute-force peel to the TRUE fixpoint on collected edges
    val items = graft.core.Tables.lineitem(spark, dir)
      .select("l_orderkey", "l_partkey").distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val edges = items.groupBy(_._1).values.flatMap { basket =>
      val ps = basket.map(_._2).distinct.sorted
      for (i <- ps.indices; j <- (i + 1) until ps.length) yield (ps(i), ps(j))
    }.toSet
    val nodes0 = edges.flatMap(e => Seq(e._1, e._2))
    // mirror the operator exactly: k = 7·⌊2|E| / |V|⌋ / 10, integer steps
    val k = 7L * (2L * edges.size / nodes0.size) / 10L
    var surv = nodes0
    var stable = false
    while (!stable) {
      val deg = edges.toSeq
        .filter(e => surv(e._1) && surv(e._2))
        .flatMap(e => Seq(e._1, e._2)).groupBy(identity).map { case (n, v) => n -> v.size }
      val next = deg.filter(_._2 >= k).keySet
      stable = next == surv
      surv = next
    }
    if (rows.exists(_._3)) { // converged run must equal the true fixpoint
      rows.map(_._1).toSet shouldBe surv
      val deg = edges.toSeq.filter(e => surv(e._1) && surv(e._2))
        .flatMap(e => Seq(e._1, e._2)).groupBy(identity).map { case (n, v) => n -> v.size }
      rows.foreach { case (n, c, _) => c shouldBe deg(n).toLong }
    } else { // a non-converged prefix must at least contain the fixpoint
      surv.subsetOf(rows.map(_._1).toSet) shouldBe true
    }
  }

  test("q156 canonical selection: one canonical per component, max quality wins") {
    val rows = operators.DedupClusters.q156.build(spark, dir)
      .select("doc_id", "component", "quality_score", "canonical_id", "is_canonical")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3), r.getBoolean(4)))
    if (rows.nonEmpty) {
      rows.groupBy(_._2).foreach { case (comp, members) =>
        // exactly one canonical, and it is a member of the component
        members.count(_._5) shouldBe 1
        val canon = members.find(_._5).get
        canon._4 shouldBe canon._1
        all(members.map(_._4)) shouldBe canon._1
        // the canonical has the component's max quality; ties to min doc_id
        val bestQ = members.map(_._3).max
        canon._3 shouldBe bestQ
        canon._1 shouldBe members.filter(_._3 == bestQ).map(_._1).min
        // component id is still the min member id (q71's labeling)
        comp shouldBe members.map(_._1).min
      }
    }
  }
}
