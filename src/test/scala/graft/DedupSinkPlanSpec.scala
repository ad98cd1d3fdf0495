package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.util.QueryExecutionListener
import graft.obs.Trace
import graft.operators.Dedup
import graft.sources.TableStore
import graft.streaming.DedupIngest

/** End-to-end store-scan accounting on the PRODUCTION dedup-ingest paths
  * (VERDICT r13 next #2 + ADVICE r13 #4): the kernel-seam plan specs
  * (IncrementalPlanSpec) pin the kernel's dataflow, but the r12 regression
  * taught that a wrapper can re-execute store-scan subtrees the kernel
  * itself never would — so these tests count scans the way production
  * pays them: a QueryExecutionListener captures every query execution of
  * an epoch, and a plan walk counts the store-rooted FileSourceScan nodes
  * that ACTUALLY RAN (metrics non-zero; cached subtrees and AQE final
  * plans are traversed, unexecuted plan copies are not counted).
  *
  * Pinned budgets per epoch:
  *  - library sink ([[DedupIngest.dedupIngestSink]]): exactly 3 — the sig
  *    membership anti-join plus the kernel's 2 bucket-pruned reads.
  *    Removing the sink's `newDocs` cache fails this test.
  *  - q199 state path ([[Dedup.dedupIngestEpoch]]): exactly 2 — the
  *    kernel's band read and hash read, both file-pruned; and on a
  *    grown store the hash read must REALLY skip files (filesRead <
  *    filesTotal in the skip trace).
  */
class DedupSinkPlanSpec extends SparkSpec {
  import spark.implicits._

  private val base =
    "the quick brown fox jumps over the lazy dog again and again today friends"

  /** Capture the query executions of `body`: the listener bus is
    * drained before the listener registers (so executions that ended
    * earlier cannot land in the capture) and again after `body` (so all
    * of its own have arrived). */
  private def captureQueryExecutions(body: => Unit): Seq[QueryExecution] = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    val l = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
        seen.add(qe); ()
      }
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    drainListenerBus()
    spark.listenerManager.register(l)
    try {
      body
      drainListenerBus()
    } finally spark.listenerManager.unregister(l)
    import scala.jdk.CollectionConverters._
    seen.iterator().asScala.toSeq
  }

  /** Count store-rooted FileSourceScan nodes that executed (non-zero
    * metrics) across the captured executions. Traverses AQE final plans
    * and cached-relation plans; shared InMemoryRelation subtrees are
    * visited once (identity dedup), so a cache populated in one action
    * and read by five others counts one scan. */
  private def executedStoreScans(qes: Seq[QueryExecution], root: String): Int = {
    val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean]())
    def walk(p: SparkPlan): Int =
      if (!seen.add(p)) 0
      else {
        val self = p match {
          case f: FileSourceScanExec
              if f.relation.location.rootPaths.exists(_.toString.contains(root)) &&
                f.metrics.get("numFiles").exists(_.value > 0) => 1
          case _ => 0
        }
        val nested = p match {
          case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
          case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
            // materialized AQE stages are leaves; the real subtree is .plan
            walk(q.plan)
          case c: InMemoryTableScanExec => walk(c.relation.cachedPlan)
          case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec =>
            walk(r.child)
          case _ => 0
        }
        self + nested + p.children.map(walk).sum + p.subqueries.map(walk).sum
      }
    qes.map(qe => walk(qe.executedPlan)).sum
  }

  private def docsFrame(rows: Seq[(Long, String)]): DataFrame =
    rows.toDF("doc_id", "text")

  test("sink epoch: exactly 3 executed store scans (sig membership + 2 kernel reads)") {
    val st = new TableStore(spark, tempDir("graft-sinkplan").toString)
    val seed = docsFrame(Seq(
      1L -> base,
      2L -> "completely unrelated text about distributed query engines and shuffles here"))
    st.create("corpus", seed)
    Dedup.buildSignatureStore(st, seed)
    // the counted epoch runs against a NON-EMPTY store (epoch 0 scans of
    // empty tables would read zero files and undercount)
    val batch = docsFrame(Seq(
      10L -> base, // near-dup of published doc 1 — exercises the verify path
      11L -> "fresh content that matches nothing in the corpus or in this batch at all",
      12L -> "another genuinely new document with its own vocabulary entirely"))
    val qes = captureQueryExecutions {
      DedupIngest.dedupIngestSink(st)(batch, 1L)
    }
    qes should not be empty
    executedStoreScans(qes, st.rootDir) shouldBe 3
    // the epoch really worked: the near-dup was cut, the new docs published
    st.table("corpus").select("doc_id").as[Long].collect().sorted.toSeq shouldBe
      Seq(1L, 2L, 11L, 12L)
  }

  /** Total parquet files the captured executions actually read from the
    * store (sum of executed scans' `numFiles`, nodes deduped as in
    * [[executedStoreScans]]). A store read over an append chain is a
    * UNION of per-version scan nodes, so node COUNT grows with the
    * chain; file count is the invariant that survives appends. */
  private def executedStoreScanFiles(qes: Seq[QueryExecution], root: String): Long = {
    val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean]())
    def walk(p: SparkPlan): Long =
      if (!seen.add(p)) 0L
      else {
        val self = p match {
          case f: FileSourceScanExec
              if f.relation.location.rootPaths.exists(_.toString.contains(root)) =>
            f.metrics.get("numFiles").map(_.value).getOrElse(0L)
          case _ => 0L
        }
        val nested = p match {
          case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
          case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => walk(q.plan)
          case c: InMemoryTableScanExec => walk(c.relation.cachedPlan)
          case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec =>
            walk(r.child)
          case _ => 0L
        }
        self + nested + p.children.map(walk).sum + p.subqueries.map(walk).sum
      }
    qes.map(qe => walk(qe.executedPlan)).sum
  }

  test("q199 state epoch: 2 pruned store reads, skipped files never touched, free replay") {
    val st = new TableStore(spark, tempDir("graft-stateplan").toString)
    Dedup.buildDedupState(st, docsFrame(Nil).limit(0))
    // grow the store over several epochs so there are files to skip
    val epochs = (0 until 4).map { e =>
      val fillers: Seq[(Long, String)] = (0 until 12).map { i =>
        val id = e * 100L + i
        (id, s"epoch $e doc $i " + Seq.tabulate(12)(j => s"w${id}_$j").mkString(" "))
      }
      // plus one near-dup lineage member per epoch
      docsFrame(fillers :+ ((e * 100L + 50L, base)))
    }
    epochs.dropRight(1).zipWithIndex.foreach { case (b, e) =>
      Dedup.dedupIngestEpoch(st)(b, e.toLong)
    }
    val (qes, events) = Trace.capture(captureQueryExecutions {
      Dedup.dedupIngestEpoch(st)(epochs.last, (epochs.size - 1).toLong)
    })
    // candidate cardinality is its own event type (ADVICE r14) — the
    // store reads hold ONLY store reads
    val skips = storeReads(events)
    // exactly 2 pruned store reads per epoch: the band probe + the
    // candidate-hash probe. (Scan NODE count is not the invariant — a
    // pruned read over an append chain unions one scan node per
    // version dir, so nodes grow with epochs; reads and files don't.)
    skips.map(_._1).sorted shouldBe Seq("state.bands", "state.shh")
    // the candidate docs' bucket set covers a fraction of the grown
    // store: the kind-0 read must schedule strictly fewer files than
    // the snapshot holds (file-level pruning is REAL, not just a
    // row-group filter)
    val shh = skips.filter(_._1 == "state.shh")
    shh.foreach { case (_, total, read) =>
      withClue(s"shh skip $read/$total: ") { read should be < total }
    }
    // and skipped files are NEVER touched: every store file any executed
    // scan read this epoch arrived through those 2 pruned reads — an
    // r12-style wrapper regression (an extra action re-executing a
    // store-scan subtree) doubles this count and fails here
    executedStoreScanFiles(qes, st.rootDir) shouldBe skips.map(_._3).sum
    // replay of the committed epoch is FREE: no store scan at all
    // (ADVICE r13 — the ledger is consulted before any LSH work)
    val replayQes = captureQueryExecutions {
      Dedup.dedupIngestEpoch(st)(epochs.last, (epochs.size - 1).toLong)
    }
    executedStoreScans(replayQes, st.rootDir) shouldBe 0
  }

  test("q203 cluster epoch: every store read is traced and pruned, free replay") {
    val st = new TableStore(spark, tempDir("graft-clusterplan").toString)
    Dedup.buildDedupState(st, docsFrame(Nil).limit(0))
    // same corpus shape as the q199 test (filler docs + one near-dup
    // lineage member per epoch), so each epoch finds pairs and the label
    // state grows; the last epoch also brings a SMALLER lineage id so the
    // cluster re-roots and a kind-5 mapping row is written
    val epochs = (0 until 4).map { e =>
      val fillers: Seq[(Long, String)] = (0 until 12).map { i =>
        val id = e * 100L + 60 + i
        (id, s"epoch $e doc $i " + Seq.tabulate(12)(j => s"w${id}_$j").mkString(" "))
      }
      val lineage: Seq[(Long, String)] =
        if (e == 3) Seq((e * 100L + 50L, base), (10L, base)) else Seq((e * 100L + 50L, base))
      docsFrame(fillers ++ lineage)
    }
    epochs.dropRight(1).zipWithIndex.foreach { case (b, e) =>
      Dedup.clusterIngestEpoch(st)(b, e.toLong)
    }
    val (qes, events) = Trace.capture(captureQueryExecutions {
      Dedup.clusterIngestEpoch(st)(epochs.last, (epochs.size - 1).toLong)
    })
    val skips = storeReads(events)
    // one epoch's pruned store reads: the kernel's band + hash probes,
    // ONE kind-4 label read for the endpoint set, and the kind-5
    // mapping walk (one read per hop; no mappings exist before this
    // epoch, so the walk terminates after its first — empty — read)
    skips.map(_._1).sorted shouldBe
      Seq("state.bands", "state.labels", "state.maps", "state.shh")
    // the grown store file-prunes the candidate-hash AND label reads
    Seq("state.shh", "state.labels").foreach { tag =>
      skips.filter(_._1 == tag).foreach { case (_, total, read) =>
        withClue(s"$tag skip $read/$total: ") { read should be < total }
      }
    }
    // no untraced store I/O: every file an executed scan read arrived
    // through the traced pruned reads. The mapping walk's terminal read
    // may exceed the executed count: its (near-)empty pruned scan
    // materializes as an AQE stage that empty-relation propagation then
    // drops from the FINAL plan, so its files are traced but absent
    // from executed-plan metrics — hence a bound, not equality, with
    // the slack capped at exactly that read's traced files
    val traced = skips.map(_._3.toLong).sum
    val mapsTraced = skips.filter(_._1 == "state.maps").map(_._3.toLong).sum
    val executed = executedStoreScanFiles(qes, st.rootDir)
    executed should be <= traced
    executed should be >= traced - mapsTraced
    // replay of the committed epoch is FREE: no store scan at all. It
    // runs before the label checks below: their store reads report to
    // the listener asynchronously and must not land in this capture
    val replayQes = captureQueryExecutions {
      Dedup.clusterIngestEpoch(st)(epochs.last, (epochs.size - 1).toLong)
    }
    executedStoreScans(replayQes, st.rootDir) shouldBe 0
    // the epoch did its job: the cluster re-rooted at 10 and the old
    // root was absorbed by a mapping row
    Dedup.clusterLabels(st).collect()
      .map(r => r.getLong(1)).toSet shouldBe Set(10L)
    Dedup.stateMappings(st.table("state")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)) should contain(50L -> 10L)
  }
}
