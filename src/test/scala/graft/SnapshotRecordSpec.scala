package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.execution.{CollectLimitExec, GlobalLimitExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import graft.constraints.Constraints._
import graft.sources.TableStore

/** One commit path and one snapshot record: every version a
  * [[TableStore]] commits is VERSION + its data dir, its stats, its claim
  * tombstone and one `v{N}.snap` record, and a fresh store on the same
  * root reads back exactly what the writing store saw. */
class SnapshotRecordSpec extends SparkSpec {
  import spark.implicits._

  private def freshStore() =
    new TableStore(spark, tempDir("graft-snap").toString)

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  test("every commit path leaves only VERSION, PINS and per-version data, stats, claim and record") {
    val st = freshStore()
    st.create("t", Seq((1L, "a"), (2L, "b")).toDF("id", "v"),
      Seq(PrimaryKey(Seq("id")), NotNullCol("v")))                              // v0
    st.insert("t", Seq((3L, "c")).toDF("id", "v"))                              // v1
    st.appendBatch("t", 0L, Seq((4L, "d")).toDF("id", "v"), appId = "a") shouldBe true
    st.upsertBatch("t", 1L, Seq((1L, "a2"), (5L, "e")).toDF("id", "v"), appId = "a")
    st.mergeBatch("t", 0L, Seq((2L, "b2"), (6L, "f")).toDF("id", "v"), Seq("id"),
      Map("v" -> TableStore.src("v")), appId = "m") shouldBe true               // v4
    st.addColumn("t", "score", "BIGINT", "0")                                   // v5
    st.renameColumn("t", "score", "points")                                     // v6
    st.dropColumn("t", "points")                                                // v7
    st.pinVersion("t", "altered") shouldBe 7
    st.compact("t")                                                             // v8 + vacuum
    st.createPartitioned("p", Seq((1L, "x", 1.0), (2L, "y", 2.0)).toDF("id", "day", "amt"),
      "day", Seq(PrimaryKey(Seq("id"))))
    st.updateWherePruned("p", col("day") === "x", Map("amt" -> lit(9.0))) shouldBe Seq("x")
    st.analyze("p")
    st.create("e", Seq((1L, "a")).toDF("id", "v").limit(0), Seq(PrimaryKey(Seq("id"))))

    val allowed = """VERSION|PINS|v\d+|v\d+\.(stats|claim|snap)""".r
    for (t <- Seq("t", "p", "e")) {
      val names = new java.io.File(s"${st.rootDir}/$t").listFiles().toSeq
      names.map(_.getName).filterNot(allowed.matches) shouldBe empty
      names.filter(_.getName.matches("""v\d+""")).forall(_.isDirectory) shouldBe true
    }
    // the pinned ALTERed version keeps its record through the vacuum
    Files.exists(Paths.get(s"${st.rootDir}/t/v7.snap")) shouldBe true
    Files.exists(Paths.get(s"${st.rootDir}/t/v6.snap")) shouldBe false

    val reopened = new TableStore(spark, st.rootDir)
    for (t <- Seq("t", "p", "e")) {
      rows(reopened.table(t)) shouldBe rows(st.table(t))
      reopened.table(t).schema shouldBe st.table(t).schema
      reopened.constraintsOf(t) shouldBe st.constraintsOf(t)
    }
    rows(reopened.table("t")) shouldBe
      Seq("[1,a2]", "[2,b2]", "[3,c]", "[4,d]", "[5,e]", "[6,f]")
    reopened.constraintsOf("t") shouldBe Seq(PrimaryKey(Seq("id")), NotNullCol("v"))
    rows(reopened.tableAtPin("t", "altered")) shouldBe rows(st.tableAtPin("t", "altered"))
    for ((id, app, done) <- Seq((1L, "a", true), (2L, "a", false), (0L, "m", true),
                                (1L, "m", false), (0L, "", false)))
      (reopened.batchCommitted("t", id, app), st.batchCommitted("t", id, app)) shouldBe
        ((done, done))
  }

  test("claimVersion and flipVersion each have one call site outside the test hooks") {
    val src = new String(Files.readAllBytes(
      Paths.get("src/main/scala/graft/sources/TableStore.scala")), "UTF-8")
    // the CAS test hooks plant claims on purpose; they end at the first
    // blank line after their marker comment
    val hooks = src.indexOf("// CAS test hooks")
    hooks should be >= 0
    val body = src.take(hooks) + src.drop(src.indexOf("\n\n", hooks))
    for (fn <- Seq("claimVersion", "flipVersion"))
      withClue(fn) { s"""(?<!def )\\b$fn\\(""".r.findAllIn(body).size shouldBe 1 }
  }

  /** LIMIT values of the executed plans `body` runs. AQE's final plan
    * of a collect can keep its limit in the result stage's driver step
    * only, so the adaptive node's input plan is walked as well. */
  private def executedLimits(body: => Unit): Seq[Int] = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    val l = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = { seen.add(qe); () }
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    drainListenerBus()
    spark.listenerManager.register(l)
    try { body; drainListenerBus() } finally spark.listenerManager.unregister(l)
    def limits(p: SparkPlan): Seq[Int] = (p match {
      case c: CollectLimitExec => Seq(c.limit)
      case g: GlobalLimitExec => Seq(g.limit)
      case _ => Nil
    }) ++ (p match {
      case a: AdaptiveSparkPlanExec => limits(a.inputPlan) ++ limits(a.executedPlan)
      case q: QueryStageExec => limits(q.plan)
      case _ => p.children.flatMap(limits)
    })
    import scala.jdk.CollectionConverters._
    seen.iterator().asScala.toSeq.flatMap(qe => limits(qe.executedPlan))
  }

  test("a pruned mutation collects at most MaxPartitions + 1 partition values") {
    val st = freshStore()
    st.createPartitioned("p", Seq((1L, "x"), (2L, "y")).toDF("id", "day"), "day")
    executedLimits {
      st.deleteWherePruned("p", col("day") === "x") shouldBe Seq("x")
    } should contain(TableStore.MaxPartitions + 1)
    st.table("p").as[(Long, String)].collect().toSeq shouldBe Seq((2L, "y"))
  }
}
