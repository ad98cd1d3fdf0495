package graft.perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** One timed interval at a layer boundary, recorded by the client thread.
  * `parent` is the id of the enclosing span (-1 at the top), `op` the
  * operation sequence number within the run, `pass` the pass number. */
final case class Span(id: Int, parent: Int, name: String, op: Int, pass: Int,
                      startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder. The closed-loop client is one thread, so the
  * open spans form a plain stack. With tracing off, `apply` only runs the
  * body: the untraced run pays no bookkeeping. */
final class Spans(val enabled: Boolean) {
  private val done = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[Int]
  private var nextId = 0
  var op = -1
  var pass = -1

  def apply[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = open.headOption.getOrElse(-1)
      open = id :: open
      val t0 = System.nanoTime()
      try body
      finally {
        done += Span(id, parent, name, op, pass, t0, System.nanoTime())
        open = open.tail
      }
    }

  def all: Seq[Span] = done.toSeq

  /** Total seconds of spans named `name` in `pass`. */
  def seconds(name: String, pass: Int): Double =
    done.iterator.filter(s => s.pass == pass && s.name == name).map(_.seconds).sum
}

/** Per-pass tallies of what the scheduler and the executors did. */
final class PassTally {
  var stages = 0L
  var tasks = 0L
  var taskS = 0.0
  var gcS = 0.0
  var shuffleWriteB = 0L
  var shuffleReadB = 0L
  var spillB = 0L
  var inputB = 0L
  var outputB = 0L
  var resultB = 0L
}

/** One Spark job as the listener saw it: the pass and operation it ran
  * under (local properties set by the client), the graft source file its
  * call site names, and its interval in wall-clock milliseconds. */
final case class JobRecord(id: Int, pass: Int, op: Int, site: String,
                           startMs: Long, endMs: Long)

/** Attributes every Spark job to the graft source file named in its call
  * site, and sums task metrics per pass. Jobs launched outside a pass
  * (setup, checks) carry no pass property and are ignored. */
final class JobLedger extends SparkListener {
  private val started = new ConcurrentHashMap[Int, JobRecord]()
  private val finished = new ConcurrentLinkedQueue[JobRecord]()
  private val stagePass = new ConcurrentHashMap[Int, Int]()
  private val tallies = new ConcurrentHashMap[Int, PassTally]()
  private val sqlStarts = new ConcurrentLinkedQueue[Long]()
  private val NoPass = Int.MinValue

  private def tally(pass: Int): PassTally =
    tallies.computeIfAbsent(pass, _ => new PassTally)

  override def onJobStart(j: SparkListenerJobStart): Unit = {
    val props = Option(j.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
    prop(JobLedger.PassKey).map(_.toInt).foreach { pass =>
      val op = prop(JobLedger.OpKey).map(_.toInt).getOrElse(-1)
      // the newest stage is the job's own result stage; its details field
      // is the long call site of the action that submitted the job
      val details = j.stageInfos.sortBy(-_.stageId).headOption.map(_.details).getOrElse("")
      val site = JobLedger.graftSite(details)
        .orElse(prop(JobLedger.OwnerKey)).getOrElse("other")
      j.stageIds.foreach(id => stagePass.put(id, pass))
      started.put(j.jobId, JobRecord(j.jobId, pass, op, site, j.time, -1L))
    }
  }

  override def onJobEnd(j: SparkListenerJobEnd): Unit = {
    val r = started.remove(j.jobId)
    if (r != null) finished.add(r.copy(endMs = j.time))
  }

  override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
    val pass = stagePass.getOrDefault(s.stageInfo.stageId, NoPass)
    if (pass != NoPass) {
      val t = tally(pass)
      t.synchronized {
        t.stages += 1
        t.tasks += s.stageInfo.numTasks
      }
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val pass = stagePass.getOrDefault(e.stageId, NoPass)
    val m = e.taskMetrics
    if (pass != NoPass && m != null) {
      val t = tally(pass)
      t.synchronized {
        t.taskS += e.taskInfo.duration / 1e3
        t.gcS += m.jvmGCTime / 1e3
        t.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
        t.shuffleReadB += m.shuffleReadMetrics.totalBytesRead
        t.spillB += m.memoryBytesSpilled + m.diskBytesSpilled
        t.inputB += m.inputMetrics.bytesRead
        t.outputB += m.outputMetrics.bytesWritten
        t.resultB += m.resultSize
      }
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => sqlStarts.add(s.time); ()
    case _ => ()
  }

  def jobs(pass: Int): Seq[JobRecord] = finished.asScala.filter(_.pass == pass).toSeq
  def passTally(pass: Int): PassTally = tally(pass)
  /** SQL executions that started inside the wall-clock window [from, to]. */
  def sqlExecs(fromMs: Long, toMs: Long): Int =
    sqlStarts.asScala.count(t => t >= fromMs && t <= toMs)
}

object JobLedger {
  val PassKey = "perfbench.pass"
  val OpKey = "perfbench.op"
  /** Module the current operation calls into: the attribution of a job
    * whose call site is the benchmark's own action (the final collect). */
  val OwnerKey = "perfbench.owner"

  /** `<pkg>.<File>` of the first program frame in a long call site, e.g.
    * `graft.sources.TableStore.publish(TableStore.scala:210)` gives
    * `sources.TableStore`. Frames of the benchmark itself do not count. */
  def graftSite(longCallSite: String): Option[String] =
    longCallSite.split("\n").iterator.map(_.trim)
      .find(l => l.startsWith("graft.") && l.contains(".scala:"))
      .filterNot(_.startsWith("graft.perfbench."))
      .map { l =>
        val qualified = l.takeWhile(_ != '(')
        val cls = qualified.substring(0, qualified.lastIndexOf('.'))
        val pkg = cls.split('.').dropRight(1).drop(1).mkString(".")
        val file = l.substring(l.indexOf('(') + 1).takeWhile(_ != '.')
        if (pkg.isEmpty) file else s"$pkg.$file"
      }

  /** Total length of the union of [start, end] intervals, in seconds. */
  def unionSeconds(intervals: Seq[(Long, Long)]): Double = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    intervals.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total / 1e3
  }
}
