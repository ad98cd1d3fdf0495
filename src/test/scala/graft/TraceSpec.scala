package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import graft.obs.Trace
import graft.sources.FileStats

/** The one trace channel: records outside a capture are dropped, a
  * capture closes even when its body throws, nested captures split and
  * merge as documented, and events from a stream's foreachBatch thread
  * reach the capture. A source guard keeps engine switches off JVM
  * system properties and trace queues off the operator objects. */
class TraceSpec extends SparkSpec {

  test("a record made with no capture open is dropped") {
    Trace.record(Trace.Candidates(7L))
    Trace.storeRead("orphan", FileStats.ScanReport(4, 1))
    Trace.epoch(3L)(())
    Trace.phase("orphan")(42) shouldBe 42
    Trace.capture(())._2 shouldBe empty
  }

  test("capture closes when its body throws") {
    val boom = intercept[IllegalStateException] {
      Trace.capture {
        Trace.record(Trace.Candidates(1L))
        throw new IllegalStateException("boom")
      }
    }
    boom.getMessage shouldBe "boom"
    Trace.record(Trace.Candidates(2L)) // the sink is closed: dropped
    Trace.capture(())._2 shouldBe empty
    // a span whose body throws still records its wall
    val (_, events) = Trace.capture {
      intercept[IllegalStateException](Trace.phase("fails")(throw new IllegalStateException))
    }
    events.collect { case Trace.Phase(name, sec) => name -> (sec >= 0.0) } shouldBe
      Seq("fails" -> true)
  }

  test("nested captures: the inner sees its own events, the outer sees all of them in order") {
    val c = Trace.Candidates
    val ((inner, innerEvents), outerEvents) = Trace.capture {
      Trace.record(c(1L))
      val r = Trace.capture { Trace.record(c(2L)); "inner" }
      Trace.record(c(3L))
      // a throwing inner capture also hands its events outward
      intercept[IllegalStateException] {
        Trace.capture { Trace.record(c(4L)); throw new IllegalStateException }
      }
      r
    }
    inner shouldBe "inner"
    innerEvents shouldBe Seq(c(2L))
    outerEvents shouldBe Seq(c(1L), c(2L), c(3L), c(4L))
    Trace.capture(())._2 shouldBe empty
  }

  test("events recorded on other threads, the q199 foreachBatch sink's included, are captured") {
    val (_, threaded) = Trace.capture {
      val t = new Thread(() => Trace.record(Trace.Candidates(5L)))
      t.start(); t.join()
    }
    threaded shouldBe Seq(Trace.Candidates(5L))

    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog again and again " * 3
    val docs = (1L to 120L).map { i =>
      val text =
        if (Set(5L, 65L, 95L).contains(i)) base
        else s"unique document $i " + Seq.tabulate(12)(j => s"w${i}_$j").mkString(" ")
      (i, text, "en", s"s${i % 3}", text.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = tempDir("graft-trace-q199")
    docs.write.parquet(s"$dir/documents.parquet")
    val (survivors, events) = Trace.capture(
      operators.Dedup.q199Impl(rowsPerFile = 20L)(spark, dir.toString).count())
    survivors shouldBe 118L
    // the stream's two epochs, each with its wall
    val epochs = events.collect { case Trace.Epoch(e, sec) => e -> sec }
    epochs.map(_._1) shouldBe Seq(0L, 1L)
    epochs.foreach { case (e, sec) => withClue(s"epoch $e: ") { sec should be > 0.0 } }
    // and what ran inside them: the pruned state reads and the kernel's
    // candidate counts
    storeReads(events).map(_._1).distinct.sorted shouldBe Seq("state.bands", "state.shh")
    events.collect { case Trace.Candidates(n) => n } should not be empty
  }

  test("a session-memo lookup records one Trace.Memo: built when cold, hit after") {
    val dir = tempDir("graft-trace-memo").toString
    val (_, events) = Trace.capture {
      graft.core.Resources.memo(spark, dir, "graft-trace-outer") { _ =>
        graft.core.Resources.memo(spark, dir, "graft-trace-inner")(_ => ())
        ()
      }
      graft.core.Resources.memo(spark, dir, "graft-trace-outer")(_ => fail("built twice"))
    }
    graft.core.Resources.release(dir)
    events shouldBe Seq(Trace.Memo("graft-trace-outer", hit = false),
      Trace.Memo("graft-trace-inner", hit = false), Trace.Memo("graft-trace-outer", hit = true))
  }

  test("only graft.obs.Trace reads a system property as a switch; no operator holds a trace queue") {
    val root = Paths.get("src/main/scala/graft")
    val allowed = root.resolve("obs/Trace.scala")
    val walk = Files.walk(root)
    val files: List[Path] = try walk.iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && !p.equals(allowed)).toList
    finally walk.close()
    files should not be empty
    // reads of the JDK's own properties (tmpdir, user.dir) are values,
    // not switches
    val propRead =
      """(sys\.props\.(?:contains|getOrElse|get)|System\.getProperty)\(\s*([^,)]*)""".r
    val jdkKey = "\"(java|user|os|file|line)\\.".r
    val traceQueue = ("""val\s+(\w*[Tt]race\w*)\s*(?::[^=]*)?=\s*""" +
      """new\s+(?:java\.util\.concurrent\.)?ConcurrentLinkedQueue""").r
    val hits = files.flatMap { p =>
      val text = new String(Files.readAllBytes(p), "UTF-8")
      def line(at: Int) = text.substring(0, at).count(_ == '\n') + 1
      val props = propRead.findAllMatchIn(text)
        .filterNot(m => jdkKey.findPrefixOf(m.group(2).trim).isDefined)
        .map(m => s"$p:${line(m.start)}: ${m.group(1)}(${m.group(2).trim}")
      val queues =
        if (!p.startsWith(root.resolve("operators"))) Iterator.empty
        else traceQueue.findAllMatchIn(text)
          .map(m => s"$p:${line(m.start)}: trace queue ${m.group(1)}")
      props ++ queues
    }
    withClue(hits.mkString("\n", "\n", "\n")) { hits shouldBe empty }
  }

  test("QueryProbe's plan dump takes out AQE's run-to-run numbering") {
    // one plan as two runs print it: the two stages finished in the
    // other order, so their codegen and stage ids swap, and the exchange
    // plan ids differ
    def run(a: Int, b: Int, stageA: Int, stageB: Int, planId: Int) =
      s"""(1) Scan [codegen id : $a]
         |(2) Exchange
         |Arguments: hashpartitioning(k#1, 4), ENSURE_REQUIREMENTS, [plan_id=$planId]
         |(3) ShuffleQueryStage
         |Output [1]: [k#1]
         |Arguments: $stageA
         |(4) Scan [codegen id : $b]
         |(5) BroadcastQueryStage
         |Output [1]: [k#2]
         |Arguments: $stageB
         |(6) Join [codegen id : $a]""".stripMargin
    val first = QueryProbe.stablePlan(run(4, 5, 3, 4, 101))
    QueryProbe.stablePlan(run(5, 4, 4, 3, 207)) shouldBe first
    first should include("(6) Join [codegen id : 1]") // same stage as (1)
    first should include("Output [1]: [k#2]\nArguments: 2")
    first should not include "plan_id"
  }
}
