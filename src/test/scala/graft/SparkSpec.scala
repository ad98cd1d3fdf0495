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
    * arrive asynchronously but in order, so a marked sentinel job run
    * afterwards flushes them. */
  def sparkActivity(body: => Any): SparkSpec.Activity = {
    val sc = spark.sparkContext
    val key = "graft.spec.activity"
    val executions = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val flushed = new java.util.concurrent.CountDownLatch(1)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        def prop(k: String) = Option(j.properties).flatMap(p => Option(p.getProperty(k)))
        prop(key) match {
          case Some("body") =>
            jobs.incrementAndGet()
            prop("spark.sql.execution.root.id").orElse(prop("spark.sql.execution.id"))
              .foreach(executions.add)
          case Some("sentinel") => flushed.countDown()
          case _ => ()
        }
      }
    }
    sc.addSparkListener(listener)
    try {
      def marked(tag: String)(f: => Any): Unit = {
        sc.setLocalProperty(key, tag)
        try f finally sc.setLocalProperty(key, null)
      }
      marked("body")(body)
      marked("sentinel")(sc.parallelize(Seq(1), 1).count())
      assert(flushed.await(60, java.util.concurrent.TimeUnit.SECONDS), "listener never saw the sentinel job")
      SparkSpec.Activity(jobs.get, executions.size)
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
}
