package graft

import org.apache.spark.sql.functions._
import graft.obs.Trace
import graft.operators.{HybridOps, SearchOps, Similarity}

/** q217 — the ANN-dense-leg RRF hybrid: both legs must serve from the
  * maintained stores with REAL file pruning (the lexical leg term-prunes
  * posting files, the dense leg cluster-prunes IVF list files), and the
  * measured recall@10 vs the exact-dense fusion must be a consistent,
  * bounded figure — the approximation's quality as a tested number. */
class HybridServingSpec extends SparkSpec {

  test("q217 serves both legs from pruned store files and emits consistent recall") {
    val dir = "/root/testdata/sf0.001"
    // warm the memoized stores so the traced run records ONLY serving reads
    HybridOps.q217.build(spark, dir).collect()
    val (rows, events) = Trace.capture(HybridOps.q217.build(spark, dir).collect())
    val traces = storeReads(events)
    // dense leg: only the probed cluster's list files are scheduled
    val ivf = traces.filter(_._1 == "ivf.lists")
    ivf should not be empty
    ivf.foreach { case (_, total, read) =>
      withClue(s"ivf.lists $read/$total: ") { read should be < total }
    }
    // lexical leg: only the query terms' posting files are scheduled
    val post = traces.filter(_._1 == "index.postings")
    post should not be empty
    post.foreach { case (_, total, read) =>
      withClue(s"index.postings $read/$total: ") { read should be < total }
    }
    rows should have size 10
    val recall = rows.head.getAs[Double]("recall_10")
    rows.map(_.getAs[Double]("recall_10")).distinct.toSeq shouldBe Seq(recall)
    // recall is the flags' own mean — internally consistent, and probe-1
    // on this corpus clears a conservative floor
    recall shouldBe rows.map(_.getAs[Int]("in_exact")).sum / 10.0
    recall should be > 0.0
    recall should be <= 1.0
  }

  test("q233's per-query lexical legs: deterministic workload, pruned postings, per-query ranks") {
    val dir = "/root/testdata/sf0.001"
    val st = SearchOps.maintainedIndex(spark, dir)
    // the workload rule: df-ranked vocabulary dealt round-robin — stable
    // across calls, ≤ 2 terms per query, query ids covering 0..nQ-1
    val wl = SearchOps.termWorkload(st, nQ = 10, perQuery = 2)
    wl shouldBe SearchOps.termWorkload(st, nQ = 10, perQuery = 2)
    wl should have size 20
    wl.map(_._1).distinct.sorted shouldBe (0 until 10)
    wl.groupBy(_._1).values.foreach(_.size shouldBe 2)
    wl.map(_._2).distinct should have size 20
    // 3+ terms per query would break double summation-order parity
    an[IllegalArgumentException] should be thrownBy
      SearchOps.termWorkload(st, nQ = 10, perQuery = 3)
    // serving: the posting read file-prunes to the workload's terms, and
    // every query gets its own dense 1..k ranking
    val (rows, events) = Trace.capture(SearchOps.bm25PerQueryFromIndex(st, wl, 10).collect())
    val post = storeReads(events).filter(_._1 == "index.postings")
    post should not be empty
    post.foreach { case (_, total, read) =>
      withClue(s"index.postings $read/$total: ") { read should be <= total }
    }
    rows should not be empty
    rows.groupBy(_.getAs[Long]("query_id")).foreach { case (q, rs) =>
      withClue(s"query $q: ") {
        rs.map(_.getAs[Int]("bm25_rk")).sorted.toSeq shouldBe (1 to rs.size)
        rs.map(_.getAs[Long]("doc_id")).distinct should have size rs.size.toLong
      }
    }
  }

  test("the ANN fusion equals the exact fusion when the dense legs agree") {
    // same-cluster corpus: probe-1 IS exhaustive search, so the hybrid's
    // ANN fusion must coincide with the exact fusion (recall = 1) — the
    // degenerate case that pins the two fusion bodies to one semantics
    val dir = "/root/testdata/sf0.001"
    val st = SearchOps.maintainedIndex(spark, dir)
    val bm = SearchOps.bm25FromIndex(st, Seq("dup", "window"), 50)
    val exact = Similarity.scoredPairs(spark, dir, nQueries = 1)
      .select(col("neighbor_id").as("doc_id"), col("cosine"))
    val fused = SearchOps.rrfFuse(bm, exact).collect()
    fused should have size 10
    // frk is a dense 1..10 ranking with unique docs
    fused.map(_.getAs[Int]("frk")).toSeq shouldBe (1 to 10)
    fused.map(_.getAs[Long]("doc_id")).distinct should have size 10
  }
}
