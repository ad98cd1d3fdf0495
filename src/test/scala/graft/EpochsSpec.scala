package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.functions.col
import graft.core.Resources
import graft.obs.Trace
import graft.operators.{Epochs, SearchOps}

/** The maintained-store epoch driver: its slicing is the cut every
  * direct-epoch gate used (the prefix and drift oracles depend on it),
  * an empty input costs one job and no epoch, scratch roots never
  * outlive the gate run, both drives trace one span per epoch, and no
  * cached block outlives the pinned result. A source guard keeps epoch
  * slicing, spans and stream replays in `Epochs`, and the session memo,
  * temp dirs and bare pins in `Resources`. */
class EpochsSpec extends SparkSpec {
  import spark.implicits._

  private def keys(sl: Epochs.Slices, e: Int): Seq[Long] =
    sl.batch(e).as[Long].collect().toSeq

  test("direct batches are the (hi - lo)/n + 1 key ranges: disjoint, covering, plan-identical") {
    val cases: Seq[(String, Seq[Long], Int)] = Seq(
      ("dense", 0L until 100L, 4),
      ("lo == hi", Seq(7L, 7L, 7L), 4),
      ("negative", -50L to 13L, 3),
      ("sparse", Seq(-1000000007L, -3L, 0L, 5L, 123456789L, 9000000000000L), 4),
      ("one row", Seq(42L), 2))
    cases.foreach { case (name, ks, n) =>
      withClue(s"$name: ") {
        val df = ks.toDF("k")
        val sl = Epochs.slice(df, col("k"), n)
        (sl.lo, sl.hi, sl.rows, sl.epochs) shouldBe ((ks.min, ks.max, ks.size.toLong, n))
        val (lo, hi) = (ks.min, ks.max)
        val step = (hi - lo) / n + 1
        val batches = (0 until n).map { e =>
          val former = df.filter(col("k") >= lo + e * step && col("k") < lo + (e + 1) * step)
          sl.batch(e).queryExecution.analyzed.sameResult(former.queryExecution.analyzed) shouldBe true
          val got = keys(sl, e)
          got.sorted shouldBe ks.filter(k => k >= lo + e * step && k < lo + (e + 1) * step).sorted
          got
        }
        // every input row lands in exactly one batch
        batches.flatten.sorted shouldBe ks.sorted
      }
    }
  }

  test("an empty input drives no epoch and runs exactly one job") {
    val none = Seq.empty[Long].toDF("k")
    var calls = 0
    val (activity, events) = Trace.capture(sparkActivity {
      val sl = Epochs.slice(none, col("k"), 4)
      sl.epochs shouldBe 0
      Epochs.direct(sl) { (_, _) => calls += 1 }
      Epochs.streamed(spark, sl, 1L, "epochs_spec_empty") { (_, _) => calls += 1 }
    })
    calls shouldBe 0
    activity.jobs shouldBe 1
    events.collect { case e: Trace.Epoch => e } shouldBe empty
  }

  test("scratch roots are gone after the body returns and after it throws") {
    var seen: Seq[String] = Nil
    val n = Resources.scratch("graft-epochs-a", "graft-epochs-b") { roots =>
      seen = roots
      roots.foreach(r => Files.isDirectory(Paths.get(r)) shouldBe true)
      roots.size
    }
    n shouldBe 2
    seen.foreach(r => Files.exists(Paths.get(r)) shouldBe false)

    val boom = intercept[IllegalStateException] {
      Resources.scratchStore(spark, "graft-epochs-c") { st =>
        seen = Seq(st.rootDir)
        throw new IllegalStateException("boom")
      }
    }
    boom.getMessage shouldBe "boom"
    seen.foreach(r => Files.exists(Paths.get(r)) shouldBe false)

    // the served frame is pinned: it answers after its store root is gone
    val served = Resources.scratchStore(spark, "graft-epochs-d") { st =>
      seen = Seq(st.rootDir)
      st.create("t", (1L to 5L).toDF("k"))
      st.table("t")
    }
    Files.exists(Paths.get(seen.head)) shouldBe false
    served.as[Long].collect().sorted.toSeq shouldBe (1L to 5L)
  }

  test("direct and streamed drives record exactly one Trace.Epoch per epoch id") {
    val df = (1L to 60L).toDF("k")
    val (_, direct) = Trace.capture(
      Epochs.direct(Epochs.slice(df, col("k"), 4))((batch, _) => batch.count()))
    direct.collect { case Trace.Epoch(e, _) => e } shouldBe Seq(0L, 1L, 2L, 3L)

    val got = new java.util.concurrent.ConcurrentHashMap[Long, Seq[Long]]()
    val (_, streamed) = Trace.capture(
      Epochs.streamed(spark, Epochs.slice(df, col("k"), 3), 10L, "epochs_spec_sink") {
        (batch, e) => got.put(e, batch.as[Long].collect().toSeq); ()
      })
    streamed.collect { case Trace.Epoch(e, _) => e } shouldBe Seq(0L, 1L, 2L)
    got.keySet.asScala.toSeq.sorted shouldBe Seq(0L, 1L, 2L)
    got.values.asScala.flatten.toSeq.sorted shouldBe (1L to 60L)
  }

  test("a replay runs at the bounded width unless its staging keeps the caller's") {
    val df = (1L to 20L).toDF("k")
    val caller = spark.conf.get("spark.sql.shuffle.partitions")
    caller should not be "8"
    def width(st: Epochs.Staging): String = {
      var w = ""
      Epochs.replay(spark, st, "epochs_width_sink") { src =>
        val f = src()
        w = f.sparkSession.conf.get("spark.sql.shuffle.partitions")
        f
      }((_, _) => ())
      w
    }
    width(Epochs.Stages(df, Seq(("a", df, 0)), 1)) shouldBe "8"
    width(Epochs.Stages(df, Seq(("a", df, 0)), 1, sessionWidth = true)) shouldBe caller
    spark.conf.get("spark.sql.shuffle.partitions") shouldBe caller

    // an events table of more than one file keeps the caller's width
    // only for the gates that ask for it; a single file never does
    val d = tempDir("graft-epochs-events").toString
    df.repartition(2).write.parquet(s"$d/events.parquet")
    Epochs.events(spark, d).sessionWidth shouldBe false
    Epochs.events(spark, d, sessionWidthPastOneFile = true).sessionWidth shouldBe true
    width(Epochs.events(spark, d, sessionWidthPastOneFile = true)) shouldBe caller
    val one = tempDir("graft-epochs-events").toString
    df.coalesce(1).write.parquet(s"$one/events.parquet")
    Epochs.events(spark, one, sessionWidthPastOneFile = true).sessionWidth shouldBe false
  }

  test("a scratch-store drive leaves no persistent RDD but the pinned result") {
    val docs = (1L to 40L).map(i => (i, s"doc $i window dup " + ("w" + i % 7))).toDF("doc_id", "text")
    val before = persistedRdds
    val served = Resources.scratchStore(spark, "graft-epochs-pin") { st =>
      SearchOps.buildSearchIndex(st, docs.limit(0))
      // each epoch persists its postings frame for the range layout
      Epochs.direct(Epochs.slice(docs, col("doc_id"), 3))(SearchOps.indexIngestEpoch(st))
      st.table("index").groupBy("kind").count()
    }
    (persistedRdds -- before).size shouldBe 1
    served.count() shouldBe 3L
  }

  test("only Epochs slices epochs; only Resources pins, memoizes or makes temp dirs") {
    val root = Paths.get("src/main/scala/graft")
    val walk = Files.walk(root)
    val files: List[Path] = try walk.iterator().asScala
      .filter(_.toString.endsWith(".scala")).toList
    finally walk.close()
    files should not be empty
    def quoted(s: String) = java.util.regex.Pattern.quote(s).r
    // a per-session map of any value type: its key must stay weak
    val sessionMap =
      """(?s)WeakHashMap\[\s*(?:org\.apache\.spark\.sql\.)?SparkSession\s*,(.*?)\]\(\)""".r
    // (owner file, what, pattern): the pattern may appear in the owner only
    val rules = Seq(
      ("operators/Epochs.scala", "slice step", """val\s+step\s*=\s*\(hi\s*-\s*lo\)""".r),
      ("operators/Epochs.scala", "epoch span", """Trace\.epoch\(""".r),
      ("core/Resources.scala", "session memo", sessionMap),
      ("core/Resources.scala", "temp dir", quoted("createTempDirectory")),
      ("operators/Epochs.scala", "replay trigger", quoted("Trigger.AvailableNow")),
      ("operators/Epochs.scala", "replay wait", quoted("awaitTermination")),
      ("operators/Epochs.scala", "memory sink", quoted("format(\"memory\")")),
      ("operators/Epochs.scala", "stream lookup", quoted("streams.active")),
      ("core/Resources.scala", "bare pin", quoted("localCheckpoint(")))
    // the one session memo holds root paths: no value may reach its key
    val memos = sessionMap.findAllMatchIn(
      new String(Files.readAllBytes(root.resolve("core/Resources.scala")), "UTF-8")).toList
    memos.size shouldBe 1
    memos.head.group(1) should not include regex("DataFrame|Dataset|TableStore|SparkSession")
    val hits = files.flatMap { p =>
      val text = new String(Files.readAllBytes(p), "UTF-8")
      def line(at: Int) = text.substring(0, at).count(_ == '\n') + 1
      rules.filterNot { case (owner, _, _) => p.equals(root.resolve(owner)) }
        .flatMap { case (_, what, re) =>
          re.findAllMatchIn(text).map(m => s"$p:${line(m.start)}: $what")
        }
    }
    withClue(hits.mkString("\n", "\n", "\n")) { hits shouldBe empty }
  }
}
