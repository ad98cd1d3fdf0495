package graft

import graft.operators.{Analytics, CorpusOps, Dedup, NativeOps, SearchOps, Windows}

/** Physical-plan assertions: the scale-critical properties SURVEY.md §4
  * commits to — filters and projections reach the parquet scan, dim joins
  * broadcast, top-k avoids a global sort. These run on sf0.001.
  */
class PlanSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("q01: filter is pushed down to the parquet scan and columns pruned") {
    val plan = Analytics.q01.build(spark, sf).queryExecution
    val scan = plan.executedPlan.toString
    scan should include("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate")
    // pruned read schema: only the 5 referenced columns, not all 11
    scan should include("l_returnflag")
    scan should not include "l_orderkey"
  }

  test("q10: dimension joins are broadcast, not shuffled") {
    val plan = planOf(Analytics.q10.build(spark, sf))
    plan should include("BroadcastHashJoin")
  }

  test("q25: top-k plans TakeOrderedAndProject, not a global sort") {
    val plan = planOf(Windows.q25.build(spark, sf))
    plan should include("TakeOrderedAndProject")
  }

  test("q01: aggregation is partial+final (map-side combine)") {
    val plan = planOf(Analytics.q01.build(spark, sf))
    plan should include("HashAggregate")
    plan.split("HashAggregate").length should be >= 3 // partial + final
  }

  test("q69: custom top-k aggregates partially before the shuffle") {
    val plan = planOf(NativeOps.q69.build(spark, sf))
    // ObjectHashAggregate partial_topk on the map side: the shuffle
    // carries at most k candidates per (partition × query), not all pairs
    plan should include("ObjectHashAggregate")
    plan should include("partial_topk")
  }

  test("q63: benchmark side of the contamination join is broadcast") {
    val plan = planOf(CorpusOps.q63.build(spark, sf))
    plan should include("BroadcastHashJoin")
  }

  test("q195: span forensics keeps the benchmark side broadcast, no nested loop") {
    val plan = planOf(CorpusOps.q195.build(spark, sf))
    plan should include("BroadcastHashJoin")
    plan should not include "CartesianProduct"
    plan should not include "BroadcastNestedLoopJoin"
  }

  test("q48: minhash pipeline plans no cartesian product") {
    val plan = planOf(Dedup.q48.build(spark, sf))
    plan should not include "CartesianProduct"
    plan should not include "BroadcastNestedLoopJoin"
  }

  test("q49: simhash candidate join is a banded equi-join, not a nested loop") {
    val plan = planOf(Dedup.q49.build(spark, sf))
    plan should not include "CartesianProduct"
    plan should not include "BroadcastNestedLoopJoin"
  }

  test("q184: SCD2 as-of lookup plans no range join (no nested loop, no cartesian)") {
    // the union-asof trick must keep both the attribution and the final
    // dimension join hash-joinable — a BETWEEN theta join would plan a
    // nested loop over dim × events
    val plan = planOf(operators.Warehouse.q184.build(spark, sf))
    plan should not include "CartesianProduct"
    plan should not include "BroadcastNestedLoopJoin"
  }

  test("q185: top-20 session paths plan TakeOrderedAndProject, not a global sort") {
    planOf(operators.Warehouse.q185.build(spark, sf)) should include("TakeOrderedAndProject")
  }

  test("q186: one-pass profile reads only the four profiled columns") {
    val plan = planOf(operators.Warehouse.q186.build(spark, sf))
    plan should include("l_quantity")
    plan should not include "l_orderkey" // pruned: profile ≠ full-width scan
    // multi-DISTINCT goes through Expand — still a single scan of lineitem
    plan.split("FileScan parquet").length shouldBe 2 // exactly one scan
  }

  test("q22/q23: global rank runs without any Window operator") {
    // a `RANK() OVER (ORDER BY …)` window is a single-partition sort of
    // every group — the windowless threshold/histogram shape must not
    // reintroduce one
    planOf(Windows.q22.build(spark, sf)) should not include "Window"
    planOf(Windows.q23.build(spark, sf)) should not include "Window"
    planOf(Windows.q22.build(spark, sf)) should include("TakeOrderedAndProject")
  }

  test("q71 edge source: banded LSH candidates, never an all-pairs shingle join") {
    // assert on the UN-materialized pair plan: the memoized
    // lshVerifiedPairs reads the written pairs back, so the
    // candidate-generation shape is only visible before the write
    Dedup.lshPairsPlan(spark, sf) { pairs =>
      val plan = planOf(pairs)
      plan should not include "CartesianProduct"
      plan should not include "BroadcastNestedLoopJoin"
      // the band-bucket join key must be what generates candidates
      pairs.queryExecution.analyzed.toString should include("band")
    }
    // and the frame consumers actually get is one stored relation (a
    // single leaf: no join is re-planned per consumer)
    Dedup.lshVerifiedPairs(spark, sf).queryExecution.analyzed.collectLeaves()
      .map(_.getClass.getSimpleName) shouldBe Seq("LogicalRelation")
  }

  test("q74/q76: quantized ANN and k-means training plan no nested loops") {
    val p74 = planOf(graft.operators.Similarity.q74.build(spark, sf))
    p74 should not include "CartesianProduct"
    p74 should not include "BroadcastNestedLoopJoin"
    val p76 = planOf(graft.operators.Similarity.q76.build(spark, sf))
    p76 should not include "CartesianProduct"
    p76 should not include "BroadcastNestedLoopJoin"
    p76 should include("BroadcastHashJoin") // K·Dim centroid table broadcasts
  }

  test("q90: incremental dedup plans banded equi-joins, no nested loop") {
    // the production q90 returns an eager checkpoint (planless), so assert
    // on the kernel's raw dataflow via the shape seam
    val docs = graft.core.Tables.documents(spark, sf).select("doc_id", "text")
    val (sig, th) = Dedup.signatureFrames(
      docs.filter(org.apache.spark.sql.functions.col("doc_id") % 5 =!= 0))
    val (nsig, nth) = Dedup.signatureFrames(
      docs.filter(org.apache.spark.sql.functions.col("doc_id") % 5 === 0))
    val plan = planOf(
      Dedup.incrementalLshKernel(spark, sig, th, nsig, nth, materialize = false).pairs)
    plan should not include "CartesianProduct"
    plan should not include "BroadcastNestedLoopJoin"
    plan should include("BroadcastHashJoin")
  }

  test("q114/q115/q119: semantic dedup, PQ ANN, sparse cosine plan equi-joins only") {
    Seq(graft.operators.Similarity.q114, graft.operators.Similarity.q115,
        SearchOps.q119).foreach { qd =>
      val plan = planOf(qd.build(spark, sf))
      withClue(s"${qd.name}: ") {
        plan should not include "CartesianProduct"
        // the only tolerated nested loops are deliberate crossJoins against
        // 1-row scalar frames (q119's corpus-size N); conditioned nested
        // loops would mean a candidate join fell off the hash path
        "BroadcastNestedLoopJoin[^\\n]*".r.findAllIn(plan).foreach { line =>
          line should include("Cross")
        }
        plan should include("BroadcastHashJoin")
      }
    }
  }

  test("q130: bloom prune reaches the corpus scan before the exact join") {
    val plan = planOf(CorpusOps.q130.build(spark, sf))
    plan should include("might_contain") // scan-level prune present
    plan should include("BroadcastHashJoin")   // exact join behind it
    plan should not include "CartesianProduct"
  }

  test("q121: novelty is aggregate + join-back, no pairwise work") {
    val plan = planOf(Dedup.q121.build(spark, sf))
    plan should not include "CartesianProduct"
    plan should not include "BroadcastNestedLoopJoin"
    plan.split("HashAggregate").length should be >= 3 // partial+final on the shingle key
  }

  test("q89: candidate scoring is hash-joined; only the 3-row probe-level fan-out crosses") {
    val plan = planOf(graft.operators.Similarity.q89.build(spark, sf))
    plan should not include "CartesianProduct"
    // the ONLY nested loops are deliberate crossJoins against the 3-row
    // nprobe-level literal frame; any conditioned nested loop would mean
    // a candidate join fell off the hash path
    "BroadcastNestedLoopJoin[^\\n]*".r.findAllIn(plan).foreach { line =>
      line should include("Cross")
    }
    plan should include("BroadcastHashJoin")
  }

  test("q95: salted join is a shuffled hash join on (key, salt), not broadcast") {
    val plan = planOf(NativeOps.q95.build(spark, sf))
    plan should include("ShuffledHashJoin")
    plan should not include "BroadcastHashJoin"
    plan should include("salt") // the salt is really part of the join key
  }

  test("q97: edit-distance dedup joins on the blocking key, no nested loop") {
    val plan = planOf(Dedup.q97.build(spark, sf))
    plan should not include "CartesianProduct"
    plan should not include "BroadcastNestedLoopJoin"
  }

  test("q112: prefix-filter similarity join plans equi-joins only") {
    val plan = planOf(Dedup.q112.build(spark, sf))
    plan should not include "CartesianProduct"
    plan should not include "BroadcastNestedLoopJoin"
  }

  test("q98: inverted-index build aggregates partially before its one shuffle") {
    val plan = planOf(SearchOps.q98.build(spark, sf))
    plan should not include "CartesianProduct"
    // partial+final pairs for both the distinct and the postings aggregate
    plan should include("partial_count")
  }

  test("q101: BM25 joins hash-wise; only the 1-row stats frame crosses") {
    val df = SearchOps.q101.build(spark, sf)
    df.collect() // finalize AQE so the asserted plan is the executed one
    // the executed AdaptiveSparkPlan prints final AND initial plans; only
    // the final one is what ran
    val plan = df.queryExecution.executedPlan.toString.split("Initial Plan").head
    plan should not include "CartesianProduct"
    // the single BroadcastNestedLoopJoin is the 1-row corpus-stats cross
    plan.sliding("BroadcastNestedLoopJoin".length).count(
      _ == "BroadcastNestedLoopJoin") should be <= 1
  }

  test("q192: LM fit scoring joins hash-wise; only the 1-row quartile frame crosses") {
    val df = CorpusOps.q192.build(spark, sf)
    df.collect() // finalize AQE so the asserted plan is the executed one
    val plan = df.queryExecution.executedPlan.toString.split("Initial Plan").head
    plan should not include "CartesianProduct"
    // the single BroadcastNestedLoopJoin is the 1-row threshold cross
    plan.sliding("BroadcastNestedLoopJoin".length).count(
      _ == "BroadcastNestedLoopJoin") should be <= 1
  }

  test("q82: binned range join is an equi-join, never a nested loop") {
    val plan = planOf(graft.operators.AsofJoin.q82.build(spark, sf))
    plan should not include "BroadcastNestedLoopJoin"
    plan should not include "CartesianProduct"
  }

  test("q75: curation pipeline dedups via semi-join, no extra shuffles") {
    val plan = planOf(graft.operators.CorpusOps.q75.build(spark, sf))
    plan should include("LeftSemi")
    plan should not include "CartesianProduct"
  }

  test("q72: ingest pipeline never shuffles the staging table") {
    // stages are narrow maps; the only join (FK heal) broadcasts the
    // parent key set, so no sort-merge join / staging-side exchange
    val plan = planOf(graft.operators.IngestGate.q72.build(spark, sf))
    plan should include("BroadcastHashJoin")
    plan should not include "SortMergeJoin"
  }

  test("q119/q125/q131: no corpus-cardinality frame is ever hint-broadcast") {
    // With auto-broadcast disabled, every BroadcastExchange left in the
    // plan can only come from an explicit broadcast() hint — so each one
    // must be a bounded frame: a query-side doc_id filter, a scalar
    // keys=[] aggregate, a query-term IN filter, or the memoized pair
    // list (a scan of its graft-lsh-pairs root). A per-document or
    // per-token frame showing up here is the 100 TB broadcast-OOM the
    // `sizes` no-broadcast contract in Dedup forbids.
    val boundedMarkers = Seq("< 20", "= 0", "keys=[]", "graft-lsh-pairs", " IN (")
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      Seq(SearchOps.q119, SearchOps.q125,
          graft.operators.DedupClusters.q131).foreach { qd =>
        val planned = qd.build(spark, sf).queryExecution.executedPlan
        val inner = planned match {
          case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
            a.executedPlan
          case p => p
        }
        val exchanges = inner.collect {
          case b: org.apache.spark.sql.execution.exchange.BroadcastExchangeExec => b
        }
        withClue(s"${qd.name}: ") {
          // the hints for genuinely bounded frames must still be present —
          // an empty list would mean the query-side broadcasts were lost too
          exchanges should not be empty
          exchanges.foreach { b =>
            val sub = b.child.toString
            withClue(s"unbounded broadcast subtree:\n$sub\n") {
              boundedMarkers.exists(sub.contains) shouldBe true
            }
          }
        }
      }
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("q154/q157/q158: graph and corpus aggregates carry no broadcast hints at all") {
    // PageRank's node/edge frames, the containment matrix's shingle sets,
    // and the bigram count table are all corpus-cardinality — these
    // queries must rely on shuffle equi-joins only. With auto-broadcast
    // disabled, ANY BroadcastExchange in their plans would be a hint we
    // planted on an unbounded frame.
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      Seq(graft.operators.Extras.q154, graft.operators.CorpusOps.q157,
          graft.operators.TextAnalysis.q158).foreach { qd =>
        val planned = qd.build(spark, sf).queryExecution.executedPlan
        val inner = planned match {
          case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
            a.executedPlan
          case p => p
        }
        val exchanges = inner.collect {
          case b: org.apache.spark.sql.execution.exchange.BroadcastExchangeExec => b
        }
        withClue(s"${qd.name}: unexpected broadcast(s):\n${exchanges.mkString("\n")}\n") {
          exchanges shouldBe empty
        }
      }
      // q155's only broadcasts are the two keys=[] scalar aggregates
      // (midpoint, totals) — 1-row frames, bounded by construction
      val planned = graft.operators.EventsOps.q155.build(spark, sf)
        .queryExecution.executedPlan
      val inner = planned match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan
        case p => p
      }
      val exchanges = inner.collect {
        case b: org.apache.spark.sql.execution.exchange.BroadcastExchangeExec => b
      }
      exchanges should not be empty
      exchanges.foreach { b =>
        withClue(s"q155: non-scalar broadcast subtree:\n${b.child}\n") {
          b.child.toString should include("keys=[]")
        }
      }
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("whole-stage codegen covers the q01 pipeline") {
    val df = Analytics.q01.build(spark, sf)
    df.collect() // AQE finalizes the plan only on execution
    val plan = df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    plan should include("codegen id :") // stages fused into WholeStageCodegen
  }
}
