package graft.operators

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StructType
import graft.obs.Trace
import graft.sources.TableStore

/** The maintained-store epoch driver: the one place that decides how a
  * gate cuts its input into epochs, drives them (directly or through a
  * real `writeStream` replay), traces them, and owns the temp dirs they
  * stage, reduce and store into.
  *
  *  - **Slicing** ([[slice]]): one `agg(min, max, count)` job; direct
  *    batch `e` is `lo + e·step <= key < lo + (e+1)·step` with
  *    `step = (hi − lo)/n + 1`; an empty input drives no epoch. The
  *    prefix and drift oracles recompute exactly these cuts.
  *  - **Drives**: [[direct]] calls the epoch body per batch; [[replay]]
  *    drives a `foreachBatch` sink through a file-source stream over
  *    aligned stages or the events table in place; [[streamed]] replays
  *    a slice's strict stages ([[EventsOps.slicedStages]]) and
  *    [[reduced]] reads a reducing sink's partials back. Every drive
  *    records one [[Trace.Epoch]] per epoch or micro-batch.
  *  - **Scratch dirs** ([[scratch]], [[scratchStore]], [[stageAligned]]):
  *    fresh temp roots for one gate run, the served frame pinned, the
  *    roots deleted in a `finally`. No other file creates a temp dir.
  *  - **Memoized stores** ([[memo]]): one store per (session, dir,
  *    kind), a single [[release]] per dir, and one JVM-exit cleanup for
  *    every memo root (the graph memo's included).
  *
  * The bounded replay width of direct drives stays with the caller
  * ([[EventsOps.withReplayWidth]]); a replay builds its stream on such a
  * clone ([[EventsOps.withWidth]]), so the caller's session is never
  * written. */
object Epochs {

  /** `df` cut into `n` key-ordered batches over its `key` range
    * [`lo`, `hi`]; `rows` is the input's row count. */
  final case class Slices(df: DataFrame, key: Column, lo: Long, hi: Long,
      rows: Long, n: Int) {
    /** Epochs a drive runs: `n`, none for an empty input. */
    def epochs: Int = if (rows > 0L) n else 0
    /** Keys per direct batch. */
    val step = (hi - lo) / n + 1
    /** First key of direct batch `e` (the drift gates inject at `start(2)`). */
    def start(e: Int): Long = lo + e * step
    /** Direct batch `e`: `start(e) <= key < start(e + 1)`. */
    def batch(e: Int): DataFrame = df.filter(key >= start(e) && key < start(e + 1))
    /** The same cuts over another frame with the same key (a drifted copy). */
    def over(other: DataFrame): Slices = copy(df = other)
  }

  /** Measure `key`'s range over `df` (one job) and cut it into `n` slices. */
  def slice(df: DataFrame, key: Column, n: Int): Slices = {
    val r = df.agg(min(key), max(key), count(lit(1))).head()
    if (r.getLong(2) == 0L) Slices(df, key, 0L, 0L, 0L, n)
    else Slices(df, key, r.getLong(0), r.getLong(1), r.getLong(2), n)
  }

  /** Run `n` epochs of `body` in order, each recorded as one
    * [[Trace.Epoch]] (also when it throws). For gates that drive several
    * stores per epoch; single-input gates use [[direct]]. */
  def run[A](n: Int)(body: Int => A): Seq[A] =
    (0 until n).map(e => Trace.epoch(e.toLong)(body(e)))

  /** Drive `body` over every direct batch of `sl`, in key order. */
  def direct[A](sl: Slices)(body: (DataFrame, Long) => A): Seq[A] =
    run(sl.epochs)(e => body(sl.batch(e), e.toLong))

  /** What a [[replay]] streams. `input` is the replayed volume: the
    * stream reads with its schema, and its [[EventsOps.planBytes]] over
    * `batches` sizes the replay width. `sessionWidth` keeps the caller's
    * session width instead (see [[replay]]). */
  sealed trait Staging {
    def input: DataFrame
    def batches: Int
    def sessionWidth: Boolean
  }

  /** `stages` staged by [[stageAligned]] as `parts` files each; every
    * micro-batch reads exactly one stage. */
  final case class Stages(input: DataFrame, stages: Seq[(String, DataFrame, Int)],
      parts: Int, sessionWidth: Boolean = false) extends Staging {
    def batches: Int = stages.size
  }

  /** A table streamed as it stands, in one micro-batch: a directory in
    * place, a single file through a copy (the file source monitors
    * directories, and a copied directory path would be an empty dir that
    * silently folds zero rows — caught by the 10× replica, whose events
    * table IS a directory). */
  final case class InPlace(input: DataFrame, path: Path,
      sessionWidth: Boolean = false) extends Staging {
    def batches: Int = 1
  }

  /** The `events` table of `d`, streamed in place. With
    * `sessionWidthPastOneFile`, a table of more than one parquet file
    * (the 10×/100× replicas) keeps the caller's session width. */
  def events(s: SparkSession, d: String,
      sessionWidthPastOneFile: Boolean = false): InPlace = {
    val path = Paths.get(s"$d/events.parquet")
    def files: Long = {
      val w = Files.walk(path)
      try w.filter(p => Files.isRegularFile(p) && p.toString.endsWith(".parquet")).count()
      finally w.close()
    }
    InPlace(s.read.parquet(path.toString), path,
      sessionWidthPastOneFile && Files.isDirectory(path) && files > 1)
  }

  /** Drive `sink` through a REAL `writeStream.foreachBatch` replay of
    * `staging` under AvailableNow, so micro-batch sessions, epoch ids
    * and replay-on-restart are on the gated path; each micro-batch is one
    * [[Trace.Epoch]]. `plan` builds the streamed frame from a source
    * factory (q148/q149/q187 call it twice to read the input as two
    * streams). The stream runs on an [[EventsOps.withWidth]] clone at
    * [[EventsOps.replayWidth]] of one batch's share of the input: a
    * stateful replay pays one state-store commit per shuffle partition
    * per batch (four stores per partition for a stream-stream join), so
    * session width (32) would dwarf a bench-scale batch's row work. A
    * `sessionWidth` staging (a stateful gate whose input outgrows one
    * staged file: sliced or multi-file, the 10×/100× replicas) runs at
    * the caller's session width, read and not written — 8-partition
    * sliced joins measured 157.9 s against 22.4 s at session width on
    * the 100× replica (SCALE.md). The width is frozen into the fresh
    * per-run checkpoint, and the caller's session — its conf, temp views
    * and active streams — is never touched, so a concurrent query on it
    * keeps its width.
    * Blocks until the replay drains; every dir it made is removed, also
    * when it fails. Returns the planned frame's schema. */
  def replay(s: SparkSession, staging: Staging, sinkName: String,
      outputMode: String = "append")(plan: (() => DataFrame) => DataFrame)(
      sink: (DataFrame, Long) => Unit): StructType =
    scratch(s"graft-$sinkName") { roots =>
      val dir = Paths.get(roots.head)
      val (path, filesPerTrigger) = staging match {
        case Stages(_, stages, parts, _) => (dir, Some(stageAligned(dir, stages, parts)))
        case InPlace(_, p, _) if Files.isDirectory(p) => (p, None)
        case InPlace(_, p, _) => Files.copy(p, dir.resolve(p.getFileName)); (dir, None)
      }
      val width =
        if (staging.sessionWidth) s.conf.get("spark.sql.shuffle.partitions").toInt
        else EventsOps.replayWidth(EventsOps.planBytes(staging.input) / staging.batches)
      EventsOps.withWidth(s, width) { c =>
        def source(): DataFrame = {
          val r = c.readStream.schema(staging.input.schema)
          filesPerTrigger.fold(r)(w => r.option("maxFilesPerTrigger", w.toString))
            .parquet(path.toString)
        }
        val planned = plan(source _)
        planned.writeStream
          .queryName(sinkName)
          .outputMode(outputMode)
          .foreachBatch { (batch: DataFrame, epoch: Long) =>
            Trace.epoch(epoch)(sink(batch, epoch))
          }
          .trigger(Trigger.AvailableNow())
          .start()
          .awaitTermination()
        planned.schema
      }
    }

  /** [[replay]] with a reducing sink: `reduce` folds each micro-batch
    * into a scratch partials dir on the executors (appended; replaced in
    * complete mode, whose every batch carries the whole result), so the
    * streamed rows never collect on the driver. The partials are read
    * back on the caller's session with the reduction's static schema (a
    * zero-row replay reads as an empty frame, not a schema-inference
    * error on an empty dir), `finish`ed, and pinned before the dir goes. */
  def reduced(s: SparkSession, staging: Staging, sinkName: String,
      outputMode: String = "append")(plan: (() => DataFrame) => DataFrame)(
      reduce: DataFrame => DataFrame)(finish: DataFrame => DataFrame): DataFrame =
    scratch(s"graft-$sinkName-partials") { roots =>
      val mode = if (outputMode == "complete") "overwrite" else "append"
      val planned = replay(s, staging, sinkName, outputMode)(plan) { (batch, _) =>
        reduce(batch).write.mode(mode).parquet(roots.head)
      }
      val schema =
        reduce(s.createDataFrame(java.util.Collections.emptyList[Row](), planned)).schema
      Dedup.pin(finish(s.read.schema(schema).parquet(roots.head)))
    }

  /** [[replay]] of `sl` as `sl.n` strict stages of aligned parquet files
    * (`maxFilesPerTrigger` = stage width). `rowsPerFile` sizes the
    * per-stage file count (specs pass a tiny value to force the
    * multi-file aligned-batch path). An empty input streams nothing. */
  def streamed(s: SparkSession, sl: Slices, rowsPerFile: Long, sinkName: String)(
      sink: (DataFrame, Long) => Unit): Unit = if (sl.epochs > 0) {
    val nFiles = math.max(1L, math.min(32L, sl.rows / rowsPerFile + 1)).toInt
    replay(s, Stages(sl.df, EventsOps.slicedStages(sl.df, sl.key, sl.lo, sl.hi, sl.n),
      nFiles), sinkName)(_())(sink)
    ()
  }

  /** Stage each `(name, df, modSec)` replay batch into `streamDir` as an
    * EQUAL number of parquet files and return that common width, which
    * callers pass as `maxFilesPerTrigger` so file-count batch boundaries
    * stay exact. Parts are written in parallel (`repartition(parts)`);
    * narrower stages are padded with copies of an empty schema-bearing
    * file — necessary because the parquet writer SKIPS empty partitions,
    * so `repartition(n)` alone cannot guarantee n files (a 1-row sentinel
    * yields one file, and a misaligned batch boundary silently merges a
    * sentinel batch with its successor — caught by the q183 multi-file
    * spec, where late rows slid into the spacer batch and were judged
    * against a still-at-−∞ watermark). Stage names must be staged in
    * replay order AND sort lexicographically in that order (mod time is
    * the primary ordering; equal-second names keep ties deterministic).
    * Stages are written under one scratch root, removed also when a
    * write or move fails. */
  private[graft] def stageAligned(streamDir: Path,
      stages: Seq[(String, DataFrame, Int)], parts: Int): Int =
    scratch("graft-stage") { roots =>
      val work = Paths.get(roots.head)
      def parquetFiles(dir: Path): Array[java.io.File] =
        dir.toFile.listFiles().filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
      val staged = stages.map { case (name, df, modSec) =>
        df.repartition(parts).write.parquet(work.resolve(name).toString)
        (name, modSec, parquetFiles(work.resolve(name)))
      }
      val width = staged.map(_._3.length).max
      stages.head._2.limit(0).coalesce(1).write.parquet(work.resolve("__pad").toString)
      val pad = parquetFiles(work.resolve("__pad")).head.toPath
      staged.foreach { case (name, modSec, files) =>
        def stamp(dst: Path): Unit = {
          dst.toFile.setLastModified(1000000000000L + modSec * 1000L)
          ()
        }
        files.zipWithIndex.foreach { case (f, j) =>
          stamp(Files.move(f.toPath, streamDir.resolve(f"$name%s_$j%03d.parquet")))
        }
        (files.length until width).foreach { j =>
          stamp(Files.copy(pad, streamDir.resolve(f"$name%s_pad_$j%03d.parquet")))
        }
      }
      width
    }

  /** Run `body` over one fresh temp root per prefix and delete the roots
    * afterwards, also when `body` throws. What `body` returns must not
    * read the roots: pin a served frame ([[Dedup.pin]]) inside it. */
  def scratch[A](prefixes: String*)(body: Seq[String] => A): A = {
    val roots = scala.collection.mutable.ArrayBuffer.empty[Path]
    try {
      prefixes.foreach(p => roots += Files.createTempDirectory(p))
      body(roots.map(_.toString).toSeq)
    } finally roots.foreach(EventsOps.rmTree)
  }

  /** [[scratch]] with a single root opened as a [[TableStore]] on `s`;
    * the frame `body` serves is pinned before the root goes. */
  def scratchStore(s: SparkSession, prefix: String)(body: TableStore => DataFrame): DataFrame =
    scratch(prefix)(roots => Dedup.pin(body(new TableStore(s, roots.head))))

  // weak session keys: a stopped session (per-suite test sessions,
  // repeated driver runs in one JVM) must stay collectible. Values are
  // store ROOT PATHS, not TableStores — a TableStore holds its session,
  // and a WeakHashMap whose values strongly reach their own keys never
  // collects anything. A fresh handle over an existing root is free.
  // Inputs are immutable driver-generated parquet, so nothing is
  // invalidated before the session goes.
  private val stores = new java.util.WeakHashMap[SparkSession,
    scala.collection.mutable.Map[(String, String), String]]()

  /** Every memo root ever created (and the test sessions' warehouse
    * dir): deleted at JVM exit unless released earlier (rmTree of a
    * released root is a no-op). Bench, Verify and test JVMs never
    * release, and a store on disk would otherwise outlive them. */
  private val exitRoots = new java.util.concurrent.ConcurrentLinkedQueue[Path]()
  sys.addShutdownHook(exitRoots.forEach(p => EventsOps.rmTree(p)))

  /** Delete `p` (which need not exist yet) at JVM exit. */
  private[graft] def deleteAtExit(p: Path): Unit = { exitRoots.add(p); () }

  /** A fresh temp dir `prefix…` that is deleted at JVM exit. */
  private[graft] def memoRoot(prefix: String): Path = {
    val p = Files.createTempDirectory(prefix)
    deleteAtExit(p)
    p
  }

  /** The store kind `prefix` memoized for (`s`, `dir`): the first call
    * runs `build` over a fresh memo root named `prefix…`; every call
    * returns a fresh handle over that root. Builds serialize on the memo
    * lock; a failed build leaves nothing behind. */
  private[graft] def memo(s: SparkSession, dir: String, prefix: String)(
      build: TableStore => Unit): TableStore = stores.synchronized {
    val perDir = Option(stores.get(s)).getOrElse {
      val m = scala.collection.mutable.Map[(String, String), String]()
      stores.put(s, m)
      m
    }
    val root = perDir.getOrElseUpdate((dir, prefix), {
      val r = memoRoot(prefix)
      try build(new TableStore(s, r.toString))
      catch { case t: Throwable => EventsOps.rmTree(r); throw t }
      r.toString
    })
    new TableStore(s, root)
  }

  /** Memo roots built for `dir` in session `s`, by prefix (spec hook). */
  private[graft] def memoized(s: SparkSession, dir: String): Map[String, String] =
    stores.synchronized {
      Option(stores.get(s)).map(_.collect { case ((`dir`, k), root) => k -> root }.toMap)
        .getOrElse(Map.empty)
    }

  /** Drop every store memoized for `dir` (all sessions, all kinds) and
    * delete its root: the next gate call pays a fresh build.
    * ScaleBench's cold-memo hook; idempotent. */
  def release(dir: String): Unit = stores.synchronized {
    import scala.jdk.CollectionConverters._
    for {
      perDir <- stores.values.asScala
      key <- perDir.keys.filter(_._1 == dir).toList
      root <- perDir.remove(key)
    } EventsOps.rmTree(Paths.get(root))
  }
}
