package graft.operators

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.obs.Trace
import graft.sources.TableStore

/** The maintained-store epoch driver: the one place that decides how a
  * gate cuts its input into epochs, drives them (directly or through a
  * real `writeStream` replay), traces them, and owns the stores they
  * land in.
  *
  *  - **Slicing** ([[slice]]): one `agg(min, max, count)` job; direct
  *    batch `e` is `lo + e·step <= key < lo + (e+1)·step` with
  *    `step = (hi − lo)/n + 1`; an empty input drives no epoch. The
  *    prefix and drift oracles recompute exactly these cuts.
  *  - **Drives**: [[direct]] calls the epoch body per batch; [[streamed]]
  *    stages the same range as strict replay stages
  *    ([[EventsOps.slicedStages]]) and drives a `foreachBatch` sink over
  *    them. Both record one [[Trace.Epoch]] per epoch.
  *  - **Scratch stores** ([[scratchStore]], [[scratch]]): fresh temp
  *    roots for one gate run, the served frame pinned, the roots deleted
  *    in a `finally`.
  *  - **Memoized stores** ([[memo]]): one store per (session, dir,
  *    kind), a single [[release]] per dir, and one JVM-exit cleanup for
  *    every memo root (the graph memo's included).
  *
  * The bounded replay width of direct drives stays with the caller
  * ([[EventsOps.withReplayWidth]]); the streamed drive sets it on the
  * stream's cloned session. */
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

  /** Drive `sink` through a REAL `writeStream.foreachBatch` file-source
    * replay of `sl`: the range is staged as `sl.n` strict stages of
    * aligned parquet files (`maxFilesPerTrigger` = stage width,
    * AvailableNow), so micro-batch sessions, epoch ids and
    * replay-on-restart are on the gated path. `rowsPerFile` sizes the
    * per-stage file count (specs pass a tiny value to force the
    * multi-file aligned-batch path). Each micro-batch runs at the bounded
    * replay width ([[EventsOps.replayWidth]] of the per-stage input
    * estimate), set on the stream's CLONED session only, so a concurrent
    * query on the caller's session keeps its width. Blocks until the
    * replay drains; the staging dir is always removed. */
  def streamed(s: SparkSession, sl: Slices, rowsPerFile: Long, sinkName: String)(
      sink: (DataFrame, Long) => Unit): Unit = if (sl.epochs > 0) {
    val streamDir = Files.createTempDirectory(s"graft-$sinkName")
    try {
      val nFiles = math.max(1L, math.min(32L, sl.rows / rowsPerFile + 1)).toInt
      val epochWidth = EventsOps.replayWidth(EventsOps.planBytes(sl.df) / sl.n)
      val width = EventsOps.stageAligned(streamDir,
        EventsOps.slicedStages(sl.df, sl.key, sl.lo, sl.hi, sl.n), nFiles)
      s.streams.active.filter(q => Option(q.name).contains(sinkName)).foreach(_.stop())
      val q = s.readStream.schema(sl.df.schema)
        .option("maxFilesPerTrigger", width.toString)
        .parquet(streamDir.toString)
        .writeStream
        .queryName(sinkName)
        .outputMode("append")
        .foreachBatch { (batch: DataFrame, epoch: Long) =>
          batch.sparkSession.conf.set("spark.sql.shuffle.partitions",
            epochWidth.toString)
          Trace.epoch(epoch)(sink(batch, epoch))
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    } finally EventsOps.rmTree(streamDir)
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

  /** Every memo root ever created: deleted at JVM exit unless released
    * earlier (rmTree of a released root is a no-op). Bench, Verify and
    * test JVMs never release, and a store on disk would otherwise
    * outlive them. */
  private val memoRoots = new java.util.concurrent.ConcurrentLinkedQueue[Path]()
  sys.addShutdownHook(memoRoots.forEach(p => EventsOps.rmTree(p)))

  /** A fresh temp dir `prefix…` that is deleted at JVM exit. */
  private[graft] def memoRoot(prefix: String): Path = {
    val p = Files.createTempDirectory(prefix)
    memoRoots.add(p)
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
