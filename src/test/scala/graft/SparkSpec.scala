package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Shared spark session for all suites (getOrCreate reuses one JVM-wide). */
trait SparkSpec extends AnyFunSuite with Matchers with BeforeAndAfterAll {
  lazy val spark: SparkSession = graft.core.GraftSession.local("graft-test", cores = 4)

  private val specTempDirs = scala.collection.mutable.ArrayBuffer.empty[java.nio.file.Path]

  /** Suite-scoped temp dir, removed in afterAll. Specs must use this
    * instead of a bare `Files.createTempDirectory` — the operators clean
    * every temp tree they create (EventsOpsSpec's leak test enforces it),
    * and the suites should hold themselves to the same bar rather than
    * littering /tmp with store roots on every run. */
  def tempDir(prefix: String): java.nio.file.Path = synchronized {
    val p = java.nio.file.Files.createTempDirectory(prefix)
    specTempDirs += p
    p
  }

  /** Spark jobs `body` submits from this thread (broadcast and subquery
    * jobs included: they inherit its local properties), and the distinct
    * SQL executions — one per action — they belong to. Listener events
    * arrive asynchronously, so the bus is drained after `body`. */
  def sparkActivity(body: => Any): SparkSpec.Activity = {
    val sc = spark.sparkContext
    val executions = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        def prop(k: String) = Option(j.properties).flatMap(p => Option(p.getProperty(k)))
        if (prop(SparkSpec.MarkKey).contains("body")) {
          jobs.incrementAndGet()
          prop("spark.sql.execution.root.id").orElse(prop("spark.sql.execution.id"))
            .foreach(executions.add)
        }
      }
    }
    sc.addSparkListener(listener)
    try {
      SparkSpec.marked(sc, "body")(body)
      drainListenerBus()
      SparkSpec.Activity(jobs.get, executions.size)
    } finally sc.removeSparkListener(listener)
  }

  /** Block until every listener event posted before this call has been
    * delivered. Events reach the shared listener queue in order (SQL
    * execution ends, and so `QueryExecutionListener` calls, included), so
    * once a marked sentinel job's start arrives, everything before it
    * has arrived too. */
  def drainListenerBus(): Unit = {
    val sc = spark.sparkContext
    val tag = s"sentinel-${java.util.UUID.randomUUID()}"
    val seen = new java.util.concurrent.CountDownLatch(1)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(j.properties).flatMap(p => Option(p.getProperty(SparkSpec.MarkKey)))
            .contains(tag)) seen.countDown()
    }
    sc.addSparkListener(listener)
    try {
      SparkSpec.marked(sc, tag)(sc.parallelize(Seq(1), 1).count())
      assert(seen.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "listener never saw the sentinel job")
    } finally sc.removeSparkListener(listener)
  }

  /** The (tag, filesTotal, filesRead) store reads among captured trace
    * events, in record order. */
  def storeReads(events: Seq[graft.obs.Trace.Event]): Seq[(String, Int, Int)] =
    events.collect { case graft.obs.Trace.StoreRead(tag, total, read) => (tag, total, read) }

  override def afterAll(): Unit =
    try specTempDirs.foreach(graft.operators.EventsOps.rmTree)
    finally super.afterAll()
}

object SparkSpec {
  final case class Activity(jobs: Int, sqlExecutions: Int)

  /** Local property that tags the jobs a spec submits. */
  private val MarkKey = "graft.spec.activity"

  private def marked(sc: org.apache.spark.SparkContext, tag: String)(f: => Any): Unit = {
    sc.setLocalProperty(MarkKey, tag)
    try f finally sc.setLocalProperty(MarkKey, null)
  }
}
