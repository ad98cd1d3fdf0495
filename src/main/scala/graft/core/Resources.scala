package graft.core

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.LogicalRDD
import graft.obs.Trace
import graft.operators.EventsOps.rmTree
import graft.sources.TableStore

/** Every resource the driver holds for a session: pinned frames, bounded
  * collects, temp dirs and the session memo. No other file pins a frame,
  * creates a temp dir or keeps a per-session map (EpochsSpec's source
  * guard).
  *
  *  - **Pins** ([[pin]], [[pinned]], [[local]]): eager materialization
  *    with the lineage cut; a scoped pin releases its blocks when its
  *    body ends.
  *  - **Bounded collect** ([[collectUnder]]): one `LIMIT` job, capped in
  *    rows and in bytes.
  *  - **Temp dirs** ([[scratch]], [[scratchStore]]): fresh roots deleted
  *    in a `finally`; memo roots and the test warehouse are deleted at
  *    JVM exit unless released first.
  *  - **The memo** ([[memo]], [[store]], [[memoFrame]]): one root per
  *    (session, dir, kind), built once, and one [[release]] per dir. */
object Resources {

  /** Materialize `df` eagerly and truncate its lineage. Default:
    * `localCheckpoint`, whose blocks are executor-local and unreplicated —
    * exactly right for the single-JVM local[*] topology this library
    * benches on, but LOST on executor failure in a multi-executor
    * deployment. Setting `spark.graft.checkpointDir` to a cluster-visible
    * path (HDFS/S3) switches every pin to a RELIABLE `checkpoint()` rooted
    * there, surviving executor loss at the price of a filesystem round
    * trip. The conf is read from the FRAME's session, so a stream's
    * cloned-session setting governs its own epochs. A pinned or
    * driver-local ([[local]]) frame is returned as it is. */
  private[graft] def pin(df: DataFrame): DataFrame =
    if (pinnedRdd(df).isDefined || df.queryExecution.logical.isInstanceOf[LocalRelation]) df
    else df.sparkSession.conf.getOption("spark.graft.checkpointDir") match {
      case Some(dir) =>
        val sc = df.sparkSession.sparkContext
        // setCheckpointDir appends a per-set UUID subdir; re-set only when
        // the configured root actually changed
        if (!sc.getCheckpointDir.exists(_.startsWith(dir))) sc.setCheckpointDir(dir)
        df.checkpoint()
      case None => df.localCheckpoint(true)
    }

  /** The materialized RDD behind a pinned frame (a checkpointed Dataset
    * is a `LogicalRDD` over it and exposes no unpersist of its own). */
  private def pinnedRdd(df: DataFrame) = df.queryExecution.logical match {
    case l: LogicalRDD if l.rdd.isCheckpointed => Some(l.rdd)
    case _ => None
  }

  /** `use` over `df` pinned; the pin's blocks — taken here, or `df`'s own
    * when it is already pinned — are released when `use` returns or
    * throws. What `use` returns must not read the pinned frame lazily:
    * pin or collect it inside. */
  private[graft] def pinned[A](df: DataFrame)(use: DataFrame => A): A = {
    val p = pin(df)
    try use(p) finally pinnedRdd(p).foreach(_.unpersist(blocking = true))
  }

  /** `df`'s rows as a driver-local frame, for a result bounded by
    * construction (a top-k ranking): one collect, after which reading it
    * runs no job and holds no executor blocks. */
  private[graft] def local(df: DataFrame): DataFrame =
    df.sparkSession.createDataFrame(java.util.Arrays.asList(df.collect(): _*), df.schema)

  /** Ceiling on distinct candidate doc ids for the forced
    * `broadcast(candDocs)` hint (ADVICE r12): candidates = batch band
    * keys × matching stored docs, so under band-value skew (boilerplate
    * docs sharing a band hash across a large store) the set grows with
    * the CORPUS, and a forced hint would collect a store-proportional
    * frame to the driver. Above the ceiling the hint is dropped — the
    * semi-joins degrade to shuffles (store-proportional exchange,
    * deliberately traded for not OOMing the driver) and AQE still picks
    * broadcast if runtime stats allow. Also the row ceiling of most
    * bounded collects. */
  private[graft] val MaxBroadcastCandidateDocs = 4000000L

  /** Driver bytes one bounded collect may hold: 4M ids at 8 B, tens of
    * MB. */
  private[graft] val MaxCollectBytes = MaxBroadcastCandidateDocs * 8L

  /** The one bounded driver collect: `df`'s rows when it has at most
    * `ceiling` rows and at most [[MaxCollectBytes]] at its schema's row
    * width (`defaultSize`: a string counts 20 B), else None. One LIMIT
    * cap + 1 proves which side of the cap the frame is on AND returns the
    * rows when under it, so no count runs first. A ceiling whose + 1 does
    * not fit an Int LIMIT is refused: no probe may collect that many rows
    * to the driver. */
  private[graft] def collectUnder(df: DataFrame, ceiling: Long): Option[Array[Row]] = {
    require(ceiling < Int.MaxValue - 1L, s"probe ceiling $ceiling exceeds the driver collect bound")
    val cap = math.min(ceiling, MaxCollectBytes / math.max(1, df.schema.defaultSize))
    val rows = df.limit((cap + 1L).toInt).collect()
    if (rows.length > cap) None else Some(rows)
  }

  /** Run `body` over one fresh temp root per prefix and delete the roots
    * afterwards, also when `body` throws. What `body` returns must not
    * read the roots: pin a served frame inside it. */
  def scratch[A](prefixes: String*)(body: Seq[String] => A): A = {
    val roots = scala.collection.mutable.ArrayBuffer.empty[Path]
    try {
      prefixes.foreach(p => roots += Files.createTempDirectory(p))
      body(roots.map(_.toString).toSeq)
    } finally roots.foreach(rmTree)
  }

  /** [[scratch]] with a single root opened as a [[TableStore]] on `s`;
    * the frame `body` serves is pinned before the root goes. */
  def scratchStore(s: SparkSession, prefix: String)(body: TableStore => DataFrame): DataFrame =
    scratch(prefix)(roots => pin(body(new TableStore(s, roots.head))))

  /** Every memo root ever created (and the test sessions' warehouse
    * dir): deleted at JVM exit unless released earlier (rmTree of a
    * released root is a no-op). Bench, Verify and test JVMs never
    * release, and a memo on disk would otherwise outlive them. */
  private val exitRoots = new java.util.concurrent.ConcurrentLinkedQueue[Path]()
  sys.addShutdownHook(exitRoots.forEach(p => rmTree(p)))

  /** Delete `p` (which need not exist yet) at JVM exit. */
  private[graft] def deleteAtExit(p: Path): Unit = { exitRoots.add(p); () }

  // weak session keys: a stopped session (per-suite test sessions,
  // repeated driver runs in one JVM) must stay collectible. Values are
  // ROOT PATHS only — a DataFrame or TableStore holds its session, and a
  // WeakHashMap whose values strongly reach their own keys never collects
  // anything. Inputs are immutable driver-generated parquet, so nothing
  // is invalidated before the session goes.
  private val memos = new java.util.WeakHashMap[SparkSession,
    scala.collection.mutable.Map[(String, String), String]]()

  /** The root of memo `kind` for (`s`, `dir`): the first call runs
    * `build` over a fresh root named `kind…`; later calls return that
    * root. Every call records one [[Trace.Memo]]. Builds serialize on
    * the memo lock (a build may call [[memo]] for another kind); a failed
    * build leaves nothing behind. */
  private[graft] def memo(s: SparkSession, dir: String, kind: String)(
      build: String => Unit): String = memos.synchronized {
    val perSession = memos.computeIfAbsent(s, _ => scala.collection.mutable.Map())
    val hit = perSession.get((dir, kind))
    Trace.record(Trace.Memo(kind, hit.isDefined))
    hit.getOrElse {
      val root = Files.createTempDirectory(kind)
      deleteAtExit(root)
      try build(root.toString)
      catch { case t: Throwable => rmTree(root); throw t }
      perSession((dir, kind)) = root.toString
      root.toString
    }
  }

  /** The store memo `kind` for (`s`, `dir`): `build` fills the store
    * once; every call opens a fresh handle over its root. */
  private[graft] def store(s: SparkSession, dir: String, kind: String)(
      build: TableStore => Unit): TableStore =
    new TableStore(s, memo(s, dir, kind)(root => build(new TableStore(s, root))))

  /** The parquet frame memo `kind` for (`s`, `dir`): `write` writes it
    * once to the path it is given; every call reads it back from there.
    * Parquet, not a pin (r9 watch item): pinned blocks of a 100×-corpus
    * frame sit in executor storage and made a cold memo probe swing
    * 12.8–22.8× run to run; a parquet round-trip costs one extra encode
    * but reads back through the scan path with sized splits, holds no
    * JVM storage, and its release is a directory delete. */
  private[graft] def memoFrame(s: SparkSession, dir: String, kind: String)(
      write: String => Unit): DataFrame = {
    def frame(root: String) = s"$root/frame.parquet"
    s.read.parquet(frame(memo(s, dir, kind)(root => write(frame(root)))))
  }

  /** Memo roots built for `dir` in session `s`, by kind (spec hook). */
  private[graft] def memoized(s: SparkSession, dir: String): Map[String, String] =
    memos.synchronized {
      Option(memos.get(s)).map(_.collect { case ((`dir`, k), root) => k -> root }.toMap)
        .getOrElse(Map.empty)
    }

  /** Drop every memo built for `dir` (all sessions, all kinds) and delete
    * its roots: the next call pays a fresh build. Idempotent; a no-op on
    * a dir nothing memoized. */
  def release(dir: String): Unit = memos.synchronized {
    import scala.jdk.CollectionConverters._
    for {
      perSession <- memos.values.asScala
      key <- perSession.keys.filter(_._1 == dir).toList
      root <- perSession.remove(key)
    } rmTree(Paths.get(root))
  }
}
