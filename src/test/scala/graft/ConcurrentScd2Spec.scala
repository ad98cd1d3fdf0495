package graft

import org.apache.spark.sql.functions._

/** Two CONCURRENT scd2Refresh writers on the same dimension (VERDICT r10
  * next #7): the store's multi-writer contract under real thread
  * interleaving. Each writer is an independent CDC consumer over a
  * disjoint user-id slice (the key-space partitioning under which SCD2
  * merges commute), with its OWN appId and epoch sequence. Expected
  * behavior, asserted here:
  *
  *  - the version-pointer CAS serializes commits: a loser gets
  *    ConcurrentWriteException BEFORE touching data and retries from the
  *    advanced snapshot — no lost update, no corruption;
  *  - the per-writer epoch ledger keeps a retried commit from being
  *    mistaken for a replay of the OTHER writer's epoch (the
  *    single-sequence ledger this replaced silently dropped whichever
  *    writer committed its lower id second);
  *  - the final dimension is row-identical to the serial application —
  *    here, the from-scratch SCD2 rebuild, since each user's full
  *    purchase history arrives in exactly one writer's batch.
  */
class ConcurrentScd2Spec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"

  test("two concurrent refresh writers converge to the serial result") {
    val storeRoot = tempDir("graft-scd2-conc")
    try {
      val st = new graft.sources.TableStore(spark, storeRoot.toString)
      val ev = core.Tables.events(spark, sf)
        .select("event_id", "ts", "user_id", "event_type", "value")
      operators.Warehouse.scd2CreateDim(st, "dim", ev)
      // disjoint key-space slices: SCD2 merges over different users
      // commute, so any commit interleaving must equal the serial result
      val slices = Seq(
        ("writer-even", ev.filter(pmod(col("user_id"), lit(2)) === 0)),
        ("writer-odd", ev.filter(pmod(col("user_id"), lit(2)) === 1)))
      val retries = new java.util.concurrent.atomic.AtomicInteger(0)
      val threads = slices.map { case (appId, slice) =>
        // materialize the slice before the race so both writers contend
        // on the store, not on Spark job scheduling
        val pinned = slice.localCheckpoint(true)
        new Thread(() => {
          val epoch = 0L
          var done = false
          while (!done) {
            try {
              operators.Warehouse.scd2Refresh(st, "dim", appId)(pinned, epoch)
              done = true
            } catch {
              case _: graft.sources.TableStore.ConcurrentWriteException =>
                // the multi-writer contract: retry from the advanced
                // snapshot, same appId + epoch (this is NOT a replay —
                // nothing of ours committed)
                if (retries.incrementAndGet() > 50)
                  throw new IllegalStateException("livelock")
            }
          }
        })
      }
      threads.foreach(_.start())
      threads.foreach(_.join(120000))
      val dim = st.table("dim").select("user_id", "tier", "valid_from", "valid_to")
        .orderBy("user_id", "tier").collect().toSeq
      val serial = operators.Warehouse.q188.build(spark, sf).collect().toSeq
      dim.size should be > 0
      dim shouldBe serial
      // the per-writer ledger recorded BOTH writers: a replayed epoch 0
      // from either appId must now no-op
      slices.foreach { case (appId, slice) =>
        operators.Warehouse.scd2Refresh(st, "dim", appId)(slice, 0L)
      }
      st.table("dim").select("user_id", "tier", "valid_from", "valid_to")
        .orderBy("user_id", "tier").collect().toSeq shouldBe serial
    } finally operators.EventsOps.rmTree(storeRoot)
  }
}
