package graft.obs

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

/** The engine's one trace channel: typed events recorded on a JVM-wide
  * sink that is open only inside [[Trace.capture]]. Outside a capture
  * [[Trace.record]] is a no-op (one volatile read), so instrumented
  * engine code costs nothing in Bench/Verify runs.
  *
  * The sink is JVM-wide rather than thread-local on purpose: a streaming
  * gate's epochs run on the stream's `foreachBatch` thread, not on the
  * thread that opened the capture, and their events must still land in
  * it.
  *
  * Captures nest. Events go to the innermost open capture; when it
  * closes, they are also handed to the enclosing one, so an outer
  * capture sees everything recorded inside it and an inner one only its
  * own share. Captures are meant to be opened by one driver thread at a
  * time (a probe run, a spec): two unrelated threads capturing at once
  * are not told apart. */
object Trace {
  sealed trait Event
  /** Wall of one maintained-store ingest epoch. */
  final case class Epoch(epoch: Long, sec: Double) extends Event
  /** Wall of a named phase of a gate (q227's `build` and `serve`). */
  final case class Phase(name: String, sec: Double) extends Event
  /** One file-pruned store read: files the snapshot holds vs files the
    * read scheduled. */
  final case class StoreRead(tag: String, filesTotal: Int, filesRead: Int) extends Event
  /** Distinct candidate docs of one materialized dedup-kernel call. */
  final case class Candidates(n: Long) extends Event
  /** One session-memo lookup: `hit` when the memo was already built. */
  final case class Memo(kind: String, hit: Boolean) extends Event

  private final class Sink(val parent: Sink) {
    val events = new ConcurrentLinkedQueue[Event]()
  }

  @volatile private var open: Sink = null

  /** Add `e` to the open capture; dropped when none is open. */
  def record(e: Event): Unit = {
    val s = open
    if (s != null) { s.events.add(e); () }
  }

  def storeRead(tag: String, rep: graft.sources.FileStats.ScanReport): Unit =
    record(StoreRead(tag, rep.filesTotal, rep.filesRead))

  /** Run `body` and record its wall as epoch `epoch`, also when it throws. */
  def epoch[A](epoch: Long)(body: => A): A = timed(Epoch(epoch, _))(body)

  /** Run `body` and record its wall as phase `name`, also when it throws. */
  def phase[A](name: String)(body: => A): A = timed(Phase(name, _))(body)

  private def timed[A](event: Double => Event)(body: => A): A = {
    val t0 = System.nanoTime()
    try body finally record(event((System.nanoTime() - t0) / 1e9))
  }

  /** Run `body` with a sink open and return its result with the events
    * recorded meanwhile, in record order. The sink closes even when
    * `body` throws (the exception propagates; its events are handed to
    * an enclosing capture, if any). */
  def capture[A](body: => A): (A, Seq[Event]) = {
    val sink = synchronized { val s = new Sink(open); open = s; s }
    val result =
      try body
      finally synchronized {
        open = sink.parent
        if (sink.parent != null) { sink.parent.events.addAll(sink.events); () }
      }
    (result, sink.events.asScala.toSeq)
  }
}
