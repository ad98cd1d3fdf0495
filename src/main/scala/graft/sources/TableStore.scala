package graft.sources

import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}
import graft.constraints.Constraints._

/** Copy-on-write parquet table store: the reference's mutable-table
  * semantics (SURVEY.md §2.9) on immutable Spark storage.
  *
  * Every mutation (INSERT / UPDATE / DELETE / UPDATE…FROM) reads the
  * current version, computes the new table as a pure DataFrame transform,
  * writes it to a NEW version directory, and atomically flips a version
  * pointer file (write-tmp + rename, atomic on POSIX). Readers always see
  * a complete version — per-statement atomicity, which is all the
  * reference's BEGIN/COMMIT usage actually relies on (SURVEY.md §2.9 D6).
  * On a real cluster the pointer lives in a transactional catalog; the
  * mechanism is unchanged.
  *
  * FK actions (CASCADE / SET NULL / RESTRICT — reference TC:36,53,62-63)
  * are propagated by [[delete]] through the registered constraint graph as
  * anti-joins / when-otherwise rewrites — distributed, never row-at-a-time.
  */
final class TableStore(spark: SparkSession, root: String) {

  /** Store root on disk (spec hook for asserting physical layout). */
  def rootDir: String = root

  /** Registered constraints per table, DEFAULT and CHECK included. */
  private val metas = scala.collection.mutable.Map[String, Seq[Constraint]]()

  Files.createDirectories(Paths.get(root))

  private def versionFile(name: String) = Paths.get(s"$root/$name/VERSION")

  private def currentVersion(name: String): Int = {
    val p = versionFile(name)
    if (Files.exists(p)) new String(Files.readAllBytes(p)).trim.toInt else -1
  }

  private def dataPath(name: String, v: Int) = s"$root/$name/v$v"

  // ------------------------------------------------------------------
  // Optimistic concurrency (VERDICT r5 #5): every mutation CLAIMS the
  // version number it intends to publish by atomically creating
  // v{N}.claim BEFORE writing any data — Files.createFile is the CAS.
  // Claims are keyed by the SNAPSHOT the transform derived from (the
  // last version this thread resolved via [[table]]), so two writers
  // racing from the same snapshot both target v0+1 and exactly one
  // wins; the loser gets ConcurrentWriteException before touching disk,
  // and a writer holding a stale snapshot always conflicts (the version
  // it targets was necessarily claimed by whoever advanced the chain).
  // Claim files persist FOREVER as tombstones of attempted versions —
  // vacuum deliberately keeps them (they are empty-ish files, bytes per
  // version): deleting a superseded version's tombstone would let a
  // writer ≥2 snapshots stale re-claim that freed number and flip
  // VERSION backwards, a silent lost update. [[flipVersion]] is the
  // second line of defense: the pointer refuses to move anywhere but
  // currentVersion+1. A writer that DIES between claim and flip leaves
  // the table refusing writers until [[releaseAbandonedClaim]] — loud
  // and recoverable, never a silent lost update. Single-writer cost:
  // one createFile per publish.
  // ------------------------------------------------------------------

  private def claimFile(name: String, v: Int) = Paths.get(s"$root/$name/v$v.claim")

  // process-wide in-flight set lives on the companion so every TableStore
  // instance over the same root sees the same liveness truth
  private def inFlightClaims = TableStore.inFlightClaims

  private def claimKey(name: String, v: Int) =
    s"$root/$name/v$v"

  /** Diagnostic owner tag written into the claim (who/when); the LEASE
    * clock is the claim file's mtime, not this content, so a crash
    * between create and write still leaves a recoverable claim. */
  private def ownerTag: String =
    s"${ProcessHandle.current().pid()}/${Thread.currentThread().getId}@${System.currentTimeMillis()}"

  private def claimVersion(name: String, v: Int): Unit = {
    // Currency pre-check BEFORE the CAS and before ANY data write: a
    // claim may only target currentVersion+1. Without this, a writer
    // whose target's tombstone is missing (pre-fix vacuum, manual
    // cleanup, partial restore) would win the createFile CAS and then
    // `overwrite` a version directory the CURRENT record may still
    // reference (append chains) — silent corruption the later
    // flipVersion guard cannot undo. The check-then-create pair is
    // race-free: a concurrent writer advancing the chain past `v` must
    // first claim this same v, which makes our createFile throw.
    if (v != currentVersion(name) + 1)
      throw new TableStore.ConcurrentWriteException(name, v)
    try Files.write(claimFile(name, v), ownerTag.getBytes,
      java.nio.file.StandardOpenOption.CREATE_NEW)
    catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        throw new TableStore.ConcurrentWriteException(name, v)
    }
    inFlightClaims.add(claimKey(name, v)); ()
  }

  private def releaseClaim(name: String, v: Int): Unit = {
    inFlightClaims.remove(claimKey(name, v))
    Files.deleteIfExists(claimFile(name, v)); ()
  }

  /** The ONLY way VERSION moves: guard + atomic rename. The guard makes
    * the pointer monotone — even if a claim tombstone were lost (manual
    * deletion, partial restore), a stale writer's flip to anything but
    * currentVersion+1 aborts instead of regressing the table. On success
    * the claim stays on disk as the committed version's tombstone but
    * leaves the in-flight set. */
  private def flipVersion(name: String, v: Int): Unit = {
    val cur = currentVersion(name)
    if (v != cur + 1)
      throw new TableStore.ConcurrentWriteException(name, v)
    atomicWrite(versionFile(name), v.toString)
    inFlightClaims.remove(claimKey(name, v)); ()
  }

  /** Write `text` to `p` through a sibling tmp file and an atomic rename:
    * a reader sees the old content or the new one, never a torn file. */
  private def atomicWrite(p: java.nio.file.Path, text: String): Unit = {
    val tmp = Paths.get(s"$p.tmp")
    Files.write(tmp, text.getBytes)
    Files.move(tmp, p, StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    ()
  }

  /** Last version each table resolved to on THIS thread — the snapshot a
    * subsequent publish's transform derived from. Thread-local for the
    * same reason as [[pendingBatch]]: concurrent writers to different
    * tables must never adopt each other's snapshots. */
  private val lastRead = new ThreadLocal[scala.collection.mutable.Map[String, Int]] {
    override def initialValue() = scala.collection.mutable.Map[String, Int]()
  }

  /** Crash recovery: drop an orphaned claim left by a writer that died
    * between claim and flip (the table refuses writers until then).
    * Returns whether anything was released. Only the NEXT version's claim
    * can be orphaned — committed versions keep theirs as tombstones.
    *
    * LEASE-GUARDED (VERDICT r6 #4): a claim is released only when its
    * owner is provably dead —
    *  - never while the claim is in-flight in THIS process (the owner is
    *    a live thread between claim and flip), and
    *  - never before `leaseMs` has elapsed since the claim was created
    *    (file mtime — covers owners in OTHER processes, which we cannot
    *    probe; a writer must finish its publish within the lease or be
    *    treated as dead, the standard lease contract).
    * Calling this mid-publish is therefore safe: it returns false
    * instead of re-opening the CAS under the live writer. */
  def releaseAbandonedClaim(
      name: String,
      leaseMs: Long = TableStore.DefaultClaimLeaseMs): Boolean = {
    val v = currentVersion(name) + 1
    val p = claimFile(name, v)
    if (!Files.exists(p)) false
    else if (inFlightClaims.contains(claimKey(name, v))) false
    else {
      // the claim can vanish between exists() and the mtime read (the
      // owner's failed publish releases it) — that is a "nothing to
      // release" outcome, not an error in the recovery path
      val age = try
        System.currentTimeMillis() - Files.getLastModifiedTime(p).toMillis
      catch { case _: java.nio.file.NoSuchFileException => return false }
      if (age < leaseMs) false
      // Re-check CURRENCY immediately before the delete: with a short
      // explicit lease, a cross-process writer can flip v to committed
      // between the currentVersion() read above and here — deleting then
      // would remove a COMMITTED version's tombstone and silently break
      // the "tombstones kept forever" invariant vacuum preserves (the
      // flip/claim guards would still block the lost update, but only as
      // the second line of defense). The window between this check and
      // deleteIfExists is claim-protected: a writer advancing past v must
      // first claim v+1, never re-touch v's file.
      else if (currentVersion(name) + 1 != v) false
      else {
        inFlightClaims.remove(claimKey(name, v))
        Files.deleteIfExists(p)
      }
    }
  }

  // CAS test hooks (ConcurrencySpec): pin an explicit snapshot / plant an
  // orphaned claim without racing real Spark jobs in the test
  private[graft] def publishFrom(name: String, df: DataFrame, expected: Int): Unit = {
    lastRead.get.update(name, expected)
    publish(name, df); ()
  }
  /** Plant a LIVE claim (registered in-flight, as a real writer's). */
  private[graft] def claimForTest(name: String, v: Int): Unit = claimVersion(name, v)
  /** Plant a DEAD writer's claim: on disk but owned by no live thread —
    * what a crash between claim and flip leaves behind. */
  private[graft] def plantDeadClaim(name: String, v: Int): Unit = {
    claimVersion(name, v)
    inFlightClaims.remove(claimKey(name, v)); ()
  }
  private[graft] def deleteClaimForTest(name: String, v: Int): Unit = {
    Files.deleteIfExists(claimFile(name, v)); ()
  }
  private[graft] def currentVersionOf(name: String): Int = currentVersion(name)

  /** The one commit path every version takes. CAS: the new version is
    * `v0` + 1 and is claimed before any data write, so a concurrent
    * writer that advanced the chain since the caller read snapshot `v0`
    * makes this throw [[TableStore.ConcurrentWriteException]] instead of
    * silently overwriting the other writer's committed rows. `write`
    * puts the version's data files (if any) under v{N}/ and returns its
    * record derived from `v0`'s, overriding only what it changes; then
    * the files' stats, the record (with the in-flight batch id, if any,
    * merged into the ledger) and the VERSION flip follow. Any throw
    * releases the claim. Returns the committed version. */
  private def commit(name: String, v0: Int)(write: (Int, Snap) => Snap): Int = {
    val v = v0 + 1
    claimVersion(name, v)
    try {
      val next = write(v, snapAt(name, v0))
      if (Files.isDirectory(Paths.get(dataPath(name, v)))) collectStats(name, v)
      val ledger = pendingBatch.get().foldLeft(next.ledger) { case (m, (app, id)) =>
        m.updated(app, math.max(m.getOrElse(app, Long.MinValue), id))
      }
      atomicWrite(snapFile(name, v), renderSnap(next.copy(ledger = ledger)))
      flipVersion(name, v)
      v
    } catch {
      case e: Throwable => releaseClaim(name, v); throw e
    } finally lastRead.get.remove(name)
  }

  /** Publish `df` as a new plain version of a table, derived from the
    * snapshot this thread last read (see [[commit]]); `constraints`
    * replaces the durable constraints (CREATE). Returns the version it
    * committed; its snapshot was that version minus one. */
  private def publish(name: String, df: DataFrame,
                      constraints: Option[Seq[Constraint]] = None): Int =
    commit(name, lastRead.get.getOrElse(name, currentVersion(name))) { (v, prev) =>
      // a statically empty frame (LIMIT 0, an empty local relation: its
      // analyzed plan's maxRows is 0, known without optimizing the plan)
      // gets the one footer-only file Spark's write of it would leave,
      // written here without a Spark job
      if (df.queryExecution.analyzed.maxRows.contains(0L)) writeFooterOnly(df.schema, dataPath(name, v))
      else df.write.mode("overwrite").parquet(dataPath(name, v))
      prev.copy(partCol = "", entries = Seq("." -> s"v$v"),
        constraints = constraints.getOrElse(prev.constraints))
    }

  /** One zero-row parquet file in `dir` carrying `schema` the way a Spark
    * writer records it (every column nullable, the Spark schema JSON in
    * the footer), so its stats sidecar and every read see what they see
    * for a Spark-written empty version. */
  private def writeFooterOnly(schema: StructType, dir: String): Unit = {
    import org.apache.parquet.hadoop.{ParquetFileWriter, ParquetWriter}
    import org.apache.spark.sql.execution.datasources.parquet.SparkToParquetSchemaConverter
    import scala.jdk.CollectionConverters._
    val st = nullable(schema)
    val file = org.apache.parquet.hadoop.util.HadoopOutputFile.fromPath(
      new org.apache.hadoop.fs.Path(s"$dir/part-00000-empty.parquet"),
      spark.sparkContext.hadoopConfiguration)
    val w = new ParquetFileWriter(file,
      new SparkToParquetSchemaConverter(spark.sessionState.conf).convert(st),
      ParquetFileWriter.Mode.CREATE, ParquetWriter.DEFAULT_BLOCK_SIZE,
      ParquetWriter.MAX_PADDING_SIZE_DEFAULT)
    w.start()
    w.end(Map(FileStats.SparkSchemaKey -> st.json,
      "org.apache.spark.version" -> spark.version).asJava)
  }

  // ------------------------------------------------------------------
  // The snapshot record: one v{N}.snap per version holds everything a
  // read or the next commit needs besides the data files and their
  // stats — the partition column; the file entries (subdir → owning
  // version dir, "." for a whole dir, so a plain version is the single
  // entry "." -> vN); the schema deltas; the durable constraints; the
  // batch ledger. [[commit]] writes it before the VERSION flip, derived
  // from the snapshot's record, so it becomes visible with the data and
  // a record left by a writer that died before its flip is overwritten
  // by the next commit, never adopted. Delta's one log record per
  // commit, in miniature.
  //
  // The batch ledger backs the exactly-once streaming sinks: the highest
  // committed epoch id PER WRITER (`appId`) — exactly Delta's
  // txnAppId/txnVersion design. Epoch ids are monotone per (table,
  // writer) (the Structured Streaming epoch contract), so one number per
  // writer is the whole ledger: `id <= max(appId)` ⇔ replayed, and
  // "batch data visible" and "batch id committed" become true together.
  // A single global max would DROP a concurrent writer's epoch (B
  // committing id 2 before A's id 1 makes A's look like a replay);
  // per-writer maxima keep independent CDC consumers composable. Every
  // commit derives from the previous record, so interleaved DML cannot
  // resurrect a committed batch.
  // ------------------------------------------------------------------

  private case class Snap(partCol: String, entries: Seq[(String, String)],
                          deltas: Seq[SchemaDelta], constraints: Seq[Constraint],
                          ledger: Map[String, Long])

  private val EmptySnap = Snap("", Vector.empty, Vector.empty, Vector.empty, Map.empty)

  private def snapFile(name: String, v: Int) = Paths.get(s"$root/$name/v$v.snap")

  /** Version `v`'s record; None once vacuum reclaimed it. */
  private def snapOpt(name: String, v: Int): Option[Snap] =
    if (v < 0) Some(EmptySnap)
    else Some(snapFile(name, v)).filter(Files.exists(_))
      .map(p => parseSnap(p, new String(Files.readAllBytes(p))))

  private def snapAt(name: String, v: Int): Snap = snapOpt(name, v).getOrElse(
    throw new IllegalArgumentException(s"$name version $v was vacuumed; " +
      "time travel only reaches versions analyze() has not reclaimed"))

  /** One line per field: the partition column, then the entries, the
    * schema deltas, the durable constraints (DEFAULT and CHECK hold
    * opaque Columns and stay session-scoped) and the ledger. */
  private def renderSnap(s: Snap): String =
    ((s"PART\t${s.partCol}" +: s.entries.map { case (sub, vd) => s"ENTRY\t$sub\t$vd" }) ++
      s.deltas.map {
        case AddCol(c, t, e, av) => s"ADD\t$av\t$c\t$t\t$e"
        case DropCol(c, av) => s"DROP\t$av\t$c"
        case RenameCol(f, t, av) => s"RENAME\t$av\t$f\t$t"
      } ++
      s.constraints.collect {
        case PrimaryKey(cols) => s"PK\t${cols.mkString(",")}"
        case ForeignKey(cols, ref, refCols, od) =>
          val o = od match {
            case Cascade => "CASCADE"; case SetNull => "SETNULL"; case Restrict => "RESTRICT"
          }
          s"FK\t${cols.mkString(",")}\t$ref\t${refCols.mkString(",")}\t$o"
        case Unique(cols) => s"UNIQUE\t${cols.mkString(",")}"
        case NotNullCol(c) => s"NOTNULL\t$c"
      } ++
      s.ledger.toSeq.sortBy(_._1).map { case (a, id) => s"BATCH\t$a\t$id" })
      .mkString("\n")

  private def parseSnap(p: java.nio.file.Path, text: String): Snap =
    text.split("\n").filter(_.nonEmpty).foldLeft(EmptySnap) { (s, l) =>
      def list(cs: String) = cs.split(",").toSeq
      l.split("\t", -1) match {
        case Array("PART", c) => s.copy(partCol = c)
        case Array("ENTRY", sub, vd) => s.copy(entries = s.entries :+ (sub -> vd))
        case Array("ADD", av, c, t, e) => s.copy(deltas = s.deltas :+ AddCol(c, t, e, av.toInt))
        case Array("DROP", av, c) => s.copy(deltas = s.deltas :+ DropCol(c, av.toInt))
        case Array("RENAME", av, f, t) => s.copy(deltas = s.deltas :+ RenameCol(f, t, av.toInt))
        case Array("PK", cs) => s.copy(constraints = s.constraints :+ PrimaryKey(list(cs)))
        case Array("FK", cs, ref, rcs, o) =>
          val od = o match {
            case "CASCADE" => Cascade; case "SETNULL" => SetNull
            case "RESTRICT" => Restrict
            case bad => sys.error(s"corrupt FK action '$bad' in $p")
          }
          s.copy(constraints = s.constraints :+ ForeignKey(list(cs), ref, list(rcs), od))
        case Array("UNIQUE", cs) => s.copy(constraints = s.constraints :+ Unique(list(cs)))
        case Array("NOTNULL", c) => s.copy(constraints = s.constraints :+ NotNullCol(c))
        case Array("BATCH", app, id) => s.copy(ledger = s.ledger.updated(app, id.toLong))
        case other => sys.error(s"corrupt snapshot line in $p: ${other.mkString("\\t")}")
      }
    }

  /** The directory entry `e` = (subdir, version dir) stands for. */
  private def entryDir(name: String, e: (String, String)) = e match {
    case (".", vd) => Paths.get(s"$root/$name/$vd")
    case (sub, vd) => Paths.get(s"$root/$name/$vd/$sub")
  }

  /** Whether version `v`'s record and every dir it stitches together are
    * still on disk — a time-travel target. */
  private def isLive(name: String, v: Int): Boolean =
    snapOpt(name, v).exists(_.entries.forall(e => Files.exists(entryDir(name, e))))

  /** (appId, epoch id) being committed by the CURRENT THREAD's in-flight
    * mutation. Thread-local so concurrent foreachBatch callbacks of
    * different streams (different tables, different query-execution
    * threads) can never record each other's epoch ids. Concurrent writers
    * to the SAME table race on the version pointer's CAS — the loser gets
    * ConcurrentWriteException and retries from the new snapshot; its
    * per-writer ledger entry keeps the retry from being mistaken for a
    * replay (ConcurrentScd2Spec). */
  private val pendingBatch = new ThreadLocal[Option[(String, Long)]] {
    override def initialValue(): Option[(String, Long)] = None
  }

  /** The ledger is line-oriented `BATCH\tappId\tid` — an appId carrying a
    * tab or newline would silently corrupt the parse on the next read
    * (wrong writer key, or NumberFormatException). Rejected up front at
    * every *Batch entry point. */
  private def requireValidAppId(appId: String): Unit =
    require(!appId.contains('\t') && !appId.contains('\n'),
      s"appId must not contain tab or newline: ${appId.replace("\t", "\\t").replace("\n", "\\n")}")

  private def withBatch[A](appId: String, batchId: Long)(body: => A): A = {
    pendingBatch.set(Some((appId, batchId)))
    try body finally pendingBatch.remove()
  }

  private def isReplay(name: String, v: Int, appId: String, batchId: Long): Boolean =
    snapAt(name, v).ledger.get(appId).exists(batchId <= _)

  /** Whether `batchId` for (`name`, `appId`) has already committed — the
    * read side of the *Batch ledger, for sinks that want to skip computing
    * a replayed epoch's inputs entirely (the *Batch write would no-op
    * anyway; checking first makes the no-op FREE instead of paying the
    * epoch's dataflow and discarding it). Subject to the usual caveat of
    * any check-then-act read: a concurrent writer sharing the appId could
    * commit between this and the write, but the write-side ledger check
    * remains the authority. */
  def batchCommitted(name: String, batchId: Long, appId: String = ""): Boolean = {
    requireValidAppId(appId)
    val v = currentVersion(name)
    v >= 0 && isReplay(name, v, appId, batchId)
  }

  /** Exactly-once streaming append (the foreachBatch sink): commit `rows`
    * under `batchId` atomically with the version flip; a replayed epoch
    * (batchId ≤ the committed max — Structured Streaming epoch ids are
    * monotone, e.g. a restart from checkpoint re-offers the last id) is a
    * no-op. Returns whether the batch was applied.
    *
    * CONTRACT (the Delta txnAppId/txnVersion semantics): batch ids must be
    * MONOTONE per (table, `appId`) — any id ≤ that writer's committed max
    * is treated as a replay and silently skipped, exactly like Delta
    * skips a lower txnVersion for the same txnAppId. Independent writers
    * (key-space-partitioned CDC consumers) pass distinct appIds and each
    * replays only against its own history; writers sharing a checkpoint
    * share an appId. Consequences callers must own: a RESET checkpoint
    * (epochs restart at 0) must write to a fresh table or use a fresh
    * appId, or the restarted epochs no-op until they pass the historical
    * max; out-of-order "backfill" ids below a writer's max cannot be
    * expressed through this API — use plain [[insert]] for non-epoch
    * writes.
    *
    * O(batch): the new version dir holds only the batch's files, prior
    * data is reused via the record's entries; [[compact]] collapses long
    * chains. */
  def appendBatch(name: String, batchId: Long, rows: DataFrame,
                  appId: String = ""): Boolean = {
    requireValidAppId(appId)
    val v0 = currentVersion(name)
    require(v0 >= 0, s"no such table: $name")
    if (isReplay(name, v0, appId, batchId)) return false
    withBatch(appId, batchId) {
      commit(name, v0) { (v, prev) =>
        val batch = rows.select(table(name).columns.map(col).toSeq: _*)
        // partitioned append (events-by-date continuous ingest): the batch
        // writes ONLY its own partition subdirs under v{N}; every prior
        // partition entry is reused untouched, so partition-pruned DML and
        // subdir vacuum keep working across the append chain
        if (prev.partCol.nonEmpty)
          prev.copy(entries = writeParts(name, v, batch, prev.partCol, prev.entries))
        else {
          batch.write.mode("overwrite").parquet(dataPath(name, v))
          prev.copy(entries = prev.entries :+ ("." -> s"v$v"))
        }
      }
    }
    true
  }

  /** Compact an append chain: rewrite the current snapshot as ONE plain
    * version (collapsing the record's many small per-epoch files into
    * few large ones), then vacuum the superseded directories. The batch
    * ledger survives (every commit carries it), so replayed epochs still
    * no-op after compaction. Run periodically under any continuous
    * ingest. Coalesced to a byte-derived width: the snapshot read is a
    * UNION of per-entry scans, so writing it back unmodified keeps one
    * output file per input partition — a "compaction" that never
    * collapses the chain (caught by CompactIngestSpec, r11); coalesce
    * (not repartition) so no shuffle is paid for a pure layout
    * rewrite. */
  def compact(name: String): TableStore.TableStats =
    rewriteWhole(name)(_.coalesce(compactWidth(name)))

  /** Publish `f(current snapshot)` as one plain version, then vacuum:
    * the body of every whole-table maintenance rewrite. A partitioned
    * table is refused rather than destroyed — rewritten as a plain
    * version it would silently lose its partition layout (and with it
    * pruned DML). */
  private def rewriteWhole(name: String, retain: Option[Int] = None)(
      f: DataFrame => DataFrame): TableStore.TableStats = {
    val partCol = snapAt(name, currentVersion(name)).partCol
    require(partCol.isEmpty, s"whole-table rewrites support unpartitioned tables; " +
      s"$name is partitioned on $partCol")
    publish(name, f(table(name)))
    analyze(name, retain)
  }

  /** Byte-derived compaction width: total snapshot bytes / 128 MiB
    * target, from file metadata only. */
  private def compactWidth(name: String): Int = {
    val tableDir = Paths.get(s"$root/$name")
    val totalBytes = currentFiles(name)
      .map { case (rel, _) => Files.size(tableDir.resolve(rel)) }.sum
    val target = 128L * 1024 * 1024
    math.max(1L, (totalBytes + target - 1) / target).toInt
  }

  /** [[compact]] that also RESTORES a clustered layout: collapse the
    * append chain into byte-sized files range-partitioned AND sorted on
    * `clusterCols` — the maintenance step for incrementally-appended
    * skipping stores (the dedup signature/state tables: each epoch's
    * append writes its own key-sorted files, and a plain [[compact]]'s
    * coalesce would merge them into files whose min/max stats span the
    * whole key space, silently un-pruning the store while staying
    * value-correct). `minFiles` floors the width so a small snapshot
    * still keeps per-file key ranges narrow enough to skip (the same
    * docs-per-file lever as the write layouts). Unlike [[compact]] this
    * pays one range shuffle — the price of re-establishing disjoint
    * ranges. Same conventions otherwise: unpartitioned tables only, the
    * batch ledger survives, superseded versions vacuumed. Single-
    * dimension sibling of [[optimizeZOrder]]. */
  def compactClustered(name: String, clusterCols: Seq[String],
                       minFiles: Int = 1,
                       retainVersions: Option[Int] = None): TableStore.TableStats =
    rewriteClustered(name, clusterCols, minFiles, retainVersions)(identity)

  /** OPTIMIZE-style whole-snapshot SEMANTIC rewrite through the
    * versioned write path — the maintenance primitive for stores whose
    * contents must be RETRAINED, not merely re-laid-out
    * ([[compactClustered]] rewrites bytes, never values; an IVF
    * re-cluster rewrites list MEMBERSHIP): publishes `f(current
    * snapshot)` as ONE clustered version (disjoint per-file ranges on
    * `clusterCols`, so serving prunes survive the rewrite), then
    * vacuums superseded versions — pins and the retention window exempt
    * as ever, and the batch ledger survives so replayed ingest epochs
    * still no-op against the retrained store. The caller owns `f`'s
    * semantics; the store owns atomicity (readers see the old snapshot
    * until the version flip). */
  def rewriteClustered(name: String, clusterCols: Seq[String],
                       minFiles: Int = 1,
                       retainVersions: Option[Int] = None)(
      f: DataFrame => DataFrame): TableStore.TableStats = {
    require(clusterCols.nonEmpty)
    rewriteWhole(name, retainVersions) { cur =>
      f(cur).repartitionByRange(math.max(minFiles, compactWidth(name)), clusterCols.map(col): _*)
        .sortWithinPartitions(clusterCols.map(col): _*)
    }
  }

  /** Exactly-once streaming UPSERT (the update-mode aggregation sink):
    * each epoch's changed aggregate rows MERGE into the table by primary
    * key, idempotent on the epoch id exactly like [[appendBatch]] (same
    * monotone-id contract — see there). A replayed epoch no-ops even
    * though a re-applied upsert would be value-idempotent anyway — the
    * ledger also shields against an epoch whose recomputed aggregates
    * could differ after a lossy source replay. */
  def upsertBatch(name: String, batchId: Long, rows: DataFrame,
                  appId: String = ""): (Long, Long) = {
    requireValidAppId(appId)
    val v0 = currentVersion(name)
    require(v0 >= 0, s"no such table: $name")
    if (isReplay(name, v0, appId, batchId)) return (0L, 0L)
    withBatch(appId, batchId) { upsert(name, rows) }
  }

  /** Exactly-once streaming MERGE (the CDC-consumer foreachBatch sink —
    * the q189 SCD2 refresh shape): apply [[mergeInto]] under `batchId`
    * atomically with the version flip; a replayed epoch — a restarted
    * micro-batch whose MERGE committed but whose checkpoint marker did
    * not — is a no-op (same monotone-id ledger contract as
    * [[appendBatch]], see there). Returns whether the batch applied.
    * `withStats = false` makes the underlying [[mergeInto]] skip its
    * tally jobs and return the sentinel (-1, -1, -1) — mergeBatch
    * swallows that tuple, but callers dropping to mergeInto directly
    * must not consume the sentinel arithmetically. */
  def mergeBatch(name: String, batchId: Long, source: DataFrame, on: Seq[String],
                 matchedUpdate: Map[String, Column],
                 insertUnmatched: Boolean = true,
                 withStats: Boolean = true,
                 appId: String = ""): Boolean = {
    requireValidAppId(appId)
    val v0 = currentVersion(name)
    require(v0 >= 0, s"no such table: $name")
    if (isReplay(name, v0, appId, batchId)) return false
    withBatch(appId, batchId) {
      mergeInto(name, source, on, matchedUpdate = matchedUpdate,
        insertUnmatched = insertUnmatched, withStats = withStats)
    }
    true
  }

  // ------------------------------------------------------------------
  // File-level min/max data skipping: every version write records
  // per-file column stats (parquet footer reads — metadata only) in a
  // v{N}.stats sidecar; scanSkipping consults them to drop whole files
  // for selective predicates before Spark lists a single row. The layer
  // below partition pruning: inside surviving partitions, most files of
  // a sorted/clustered table don't overlap a selective range. The same
  // footers carry the files' Spark schema, which the sidecar records so
  // reads never submit a schema-inference job (see [[readParquet]]).
  // ------------------------------------------------------------------

  private def statsFile(name: String, v: Int) = Paths.get(s"$root/$name/v$v.stats")

  private def listParquetFiles(dir: java.nio.file.Path): Seq[java.nio.file.Path] = {
    import scala.jdk.CollectionConverters._
    if (!Files.exists(dir)) Nil
    else Files.walk(dir).iterator().asScala
      .filter(p => p.toString.endsWith(".parquet") && Files.isRegularFile(p))
      .toSeq.sorted
  }

  private def collectStats(name: String, v: Int): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val tableDir = Paths.get(s"$root/$name")
    val stats = listParquetFiles(Paths.get(dataPath(name, v))).map { p =>
      FileStats.readFooter(p.toString, tableDir.relativize(p).toString, conf)
    }
    Files.write(statsFile(name, v), FileStats.render(stats).getBytes)
  }

  /** Spark schema of version dir `vd`'s files as its stats sidecar
    * recorded it; None for sidecars written before schemas were recorded
    * and for dirs without one. */
  private def dirSchema(name: String, vd: String): Option[StructType] = {
    val p = statsFile(name, vd.stripPrefix("v").toInt)
    if (!Files.exists(p)) None
    else {
      val in = Files.newBufferedReader(p)
      val json = try FileStats.schemaLine(in.readLine()) finally in.close()
      json.flatMap(j => scala.util.Try(DataType.fromJson(j)).toOption)
        .collect { case st: StructType => st }
    }
  }

  /** `spark.read.parquet(paths)` over files lying in the version dirs
    * `dirs`. When every dir's sidecar recorded a schema and they agree
    * (nullability aside: Spark reads every file column as nullable), the
    * reader gets it up front and plans without the inference job Spark
    * submits otherwise, even for one file; partition columns are still
    * discovered from the paths. Older sidecars and foreign files infer,
    * as before. */
  private def readParquet(name: String, dirs: Seq[String],
                          basePath: Option[String] = None)(paths: String*): DataFrame = {
    val reader = basePath.fold(spark.read)(b => spark.read.option("basePath", b))
    recordedSchema(name, dirs).fold(reader.parquet(paths: _*))(reader.schema(_).parquet(paths: _*))
  }

  /** The schema every one of `dirs`' sidecars recorded, as Spark reads
    * it (all columns nullable); None when one recorded none or they
    * disagree. */
  private def recordedSchema(name: String, dirs: Seq[String]): Option[StructType] = {
    val schemas = dirs.distinct.map(dirSchema(name, _))
    val known = if (schemas.forall(_.isDefined)) schemas.flatten else Nil
    known.map(nullable).distinct match {
      case Seq(st) => Some(st)
      case _ => None
    }
  }

  private def nullable(st: StructType): StructType =
    StructType(st.fields.map(_.copy(nullable = true)))

  /** The files a record's `entries` stitch together, as (path relative to
    * the table dir, owning version dir). */
  private def filesOf(name: String, entries: Seq[(String, String)]): Seq[(String, String)] = {
    val tableDir = Paths.get(s"$root/$name")
    entries.flatMap { e =>
      listParquetFiles(entryDir(name, e)).map(p => tableDir.relativize(p).toString -> e._2)
    }
  }

  /** Current snapshot's files (see [[filesAt]]). */
  private def currentFiles(name: String): Seq[(String, String)] = {
    val v = currentVersion(name)
    require(v >= 0, s"no such table: $name")
    filesOf(name, snapAt(name, v).entries)
  }

  /** Scan with file-level skipping: read only files whose min/max stats
    * overlap every range, then apply the exact predicate. Equivalent to
    * `table(name).filter(ranges)`; the report says how many files the
    * stats eliminated. Files without stats are always read. */
  def scanSkipping(name: String,
                   ranges: Seq[FileStats.ColumnRange]): (DataFrame, FileStats.ScanReport) = {
    scanWhere(name, FileStats.mightMatch(_, ranges), rangePred(ranges))
  }

  /** The exact row predicate of a skipping scan: every range's bounds AND
    * the `extra` conjuncts (`true` when there are none). */
  private def rangePred(ranges: Seq[FileStats.ColumnRange], extra: Column*): Column =
    (ranges.flatMap { r =>
      r.lo.map(v => col(r.column) >= lit(v)) ++ r.hi.map(v => col(r.column) <= lit(v))
    } ++ extra).reduceOption(_ && _).getOrElse(lit(true))

  /** [[scanSkipping]] plus an IN-set prune: read only files that satisfy
    * every range AND whose stats admit at least one of `values` in
    * `inCol`; the exact predicate (ranges AND `inCol IN values`) applies
    * on top, so the result equals `table(name).filter(...)`. This is the
    * file-skipping layer incremental dedup stands on: a bucket-sorted
    * signature store probed with a batch's bucket set schedules tasks only
    * for files whose bucket range intersects the probe — the store read
    * stays probe-proportional instead of store-proportional. */
  def scanSkippingIn(name: String, ranges: Seq[FileStats.ColumnRange],
                     inCol: String, values: Seq[Any])
      : (DataFrame, FileStats.ScanReport) = {
    // empty probe set: no row can match — only stat-less files are even
    // listed (conservatism contract) and the false predicate drops them
    if (values.isEmpty) return scanWhere(name, _ => false, lit(false))
    scanWhere(name,
      fs => FileStats.mightMatch(fs, ranges) &&
        FileStats.mightContainAny(fs, inCol, values),
      rangePred(ranges, col(inCol).isin(values: _*)))
  }

  /** [[scanSkipping]] plus a sorted-id file prune: read only files that
    * satisfy every range AND whose `idCol` stats admit at least one of
    * `sortedIds` (ascending). UNLIKE [[scanSkippingIn]], the id set is NOT
    * applied as a row predicate — an isin over millions of ids would
    * defeat codegen — so the result is `table(name).filter(ranges)` minus
    * files provably free of every id: a SUPERSET of the id-matching rows,
    * exact only after the caller's own id restriction (incremental dedup's
    * candidate semi-join). This is the store layer that keeps a growing
    * store's per-epoch reads candidate-bounded: files range-laid-out on
    * `idCol` are kept only when some probe id lands inside their [min,
    * max], so files READ ≤ min(files total, probe ids + boundary overlap)
    * no matter how large the store grows. */
  def scanSkippingIds(name: String, ranges: Seq[FileStats.ColumnRange],
                      idCol: String, sortedIds: Array[Long])
      : (DataFrame, FileStats.ScanReport) = {
    if (sortedIds.isEmpty) return scanWhere(name, _ => false, lit(false))
    scanWhere(name,
      fs => FileStats.mightMatch(fs, ranges) &&
        FileStats.mightContainAnyId(fs, idCol, sortedIds),
      rangePred(ranges))
  }

  /** Parsed stats sidecars of a snapshot's `files`, keyed by rel path —
    * shared by [[scanWhere]] and the metadata-only counters below. Pure
    * file reads, no Spark job. */
  private def currentStats(name: String,
      files: Seq[(String, String)]): Map[String, FileStats.FileStat] =
    files.map(_._2).distinct.flatMap { vd =>
      val p = statsFile(name, vd.stripPrefix("v").toInt)
      if (Files.exists(p)) FileStats.parse(new String(Files.readAllBytes(p))) else Nil
    }.map(f => f.relPath -> f).toMap

  /** Exact row count of a record's `entries` from the stats sidecars alone
    * (parquet footer counts are exact) — Some only when EVERY file has a
    * recorded stat, None if any is foreign/unstated, and the caller falls
    * back to a count() scan. No Spark job: [[analyze]] reports a
    * just-compacted table's rows without re-reading it, and [[insert]],
    * [[upsert]], [[mergeInto]] and [[delete]] derive their returned counts
    * as rows(v) − rows(v − 1) of the version they published instead of
    * re-executing the statement.
    *
    * INVARIANT this exactness rests on: table() applies no row-level
    * filtering — a read path that ever adds tombstones/constraints must
    * route analyze() and those DML return values back through count()
    * (ADVICE r19). */
  private def statsExactRowCount(name: String,
                                 entries: Seq[(String, String)]): Option[Long] = {
    val files = filesOf(name, entries)
    val stats = currentStats(name, files)
    val known = files.flatMap { case (rel, _) => stats.get(rel).map(_.rows) }
    if (known.size == files.size) Some(known.sum) else None
  }

  /** Rows the publish of version `v` added to its snapshot v − 1
    * (negative when it removed rows), from the stats alone; None when
    * either version has an unstated file — the caller then counts the
    * statement's inputs, which stay readable: the snapshot is not
    * vacuumed by a publish. */
  private def growth(name: String, v: Int): Option[Long] =
    for (after <- statsExactRowCount(name, snapAt(name, v).entries);
         before <- statsExactRowCount(name, snapAt(name, v - 1).entries))
      yield after - before

  /** Total rows of the current snapshot, summed from the per-file stats
    * sidecars — metadata only, no Spark job. Files whose stats a writer
    * did not record count 0 (every write path of this store records
    * them), so the figure is a lower bound in the presence of foreign
    * files and exact otherwise. Self-sizing callers (the dedup store's
    * write layout) only need the order of magnitude. */
  def statsRowCount(name: String): Long = {
    val files = currentFiles(name)
    val stats = currentStats(name, files)
    files.iterator.flatMap { case (rel, _) => stats.get(rel).map(_.rows) }.sum
  }

  /** Parquet files in the current snapshot — the planning-cost metric a
    * maintenance policy sizes compaction width from. */
  def fileCount(name: String): Int = currentFiles(name).size

  /** Length of the current append chain (record entries; 1 after any
    * full rewrite) — the trigger metric for auto-compaction under
    * continuous ingest: each [[appendBatch]] adds one entry, and entry
    * count is exactly the term that grows read-planning cost per epoch. */
  def chainLength(name: String): Int = {
    val v = currentVersion(name)
    require(v >= 0, s"no such table: $name")
    snapAt(name, v).entries.size
  }

  /** Shared skipping-scan core: keep files whose stats pass `keep` (files
    * without stats are always kept — skipping is an optimization, never a
    * filter), then apply the exact `pred`. */
  private def scanWhere(name: String, keep: FileStats.FileStat => Boolean,
                        pred: Column): (DataFrame, FileStats.ScanReport) = {
    val files = currentFiles(name)
    val statsByPath = currentStats(name, files)
    val kept = files.filter { case (rel, _) => statsByPath.get(rel).forall(keep) }
    val df =
      if (kept.isEmpty)
        spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          table(name).schema)
      else {
        val deltas = snapAt(name, currentVersion(name)).deltas
        // same single-datasource collapse as readSnap: without schema
        // deltas or partition subdirs (rel = "vN/file.parquet"), one read
        // over all kept files replaces an O(append-chain) per-version
        // union — the planning term that would otherwise grow with every
        // epoch of an incremental store
        if (deltas.isEmpty && kept.forall(_._1.count(_ == '/') == 1))
          readParquet(name, kept.map(_._2))(kept.map { case (rel, _) => s"$root/$name/$rel" }: _*)
        else kept.groupBy(_._2).toSeq.sortBy(_._1).map { case (vd, fs) =>
          fillAddCols(
            readParquet(name, Seq(vd), Some(s"$root/$name/$vd"))(
              fs.map { case (rel, _) => s"$root/$name/$rel" }: _*),
            deltas, vd.stripPrefix("v").toInt)
        }.reduce(_ unionByName _)
      }
    (df.filter(pred), FileStats.ScanReport(files.size, kept.size))
  }

  // ------------------------------------------------------------------
  // Persistent constraint catalog: the DURABLE subset of each table's
  // constraints (PK / FK / UNIQUE / NOT NULL — all pure names) rides in
  // each version's record, so a fresh TableStore opened on an existing
  // root can still upsert by PK, cascade deletes through FKs, and audit
  // keys. DEFAULT and CHECK hold opaque Column expressions the Spark 4
  // API cannot serialize — those remain session-scoped. A half-created
  // table (no VERSION) is never hydrated.
  // ------------------------------------------------------------------

  private def loadConstraints(name: String): Option[Seq[Constraint]] = {
    val v = currentVersion(name)
    if (v < 0) None // no committed table: never hydrate a phantom
    else Some(snapAt(name, v).constraints)
  }

  /** Register in memory and persist into the CURRENT version's record —
    * for registration changes that do not ride a version flip (a renamed
    * parent rewriting a child's FK refCols). Changes on the table itself
    * instead commit their new list with the flip. */
  private def setMeta(name: String, cs: Seq[Constraint]): Unit = {
    metas(name) = cs
    val v = currentVersion(name)
    if (v >= 0) atomicWrite(snapFile(name, v), renderSnap(snapAt(name, v).copy(constraints = cs)))
  }

  /** Load constraints persisted by an earlier session for tables this one
    * hasn't seen — cross-table operations (FK propagation, dependents,
    * inbound-FK guards, catalog listing) need the full graph. Only
    * committed tables (VERSION present) hydrate. */
  private def hydrateCatalog(): Unit = {
    import scala.jdk.CollectionConverters._
    val r = Paths.get(root)
    if (!Files.exists(r)) return
    val stream = Files.list(r)
    try {
      stream.iterator().asScala
        .filter(Files.isDirectory(_)).map(_.getFileName.toString)
        .filterNot(metas.contains).toSeq
        .foreach(t => loadConstraints(t).foreach(cs => metas(t) = cs))
    } finally stream.close()
  }

  // §2.1 S3/S4 — CREATE TABLE [AS SELECT]; the constraints commit with
  // the table's first flip, so a failed CREATE leaves no durable entry
  def create(name: String, df: DataFrame, constraints: Seq[Constraint] = Nil): Unit = {
    metas(name) = constraints
    Files.createDirectories(Paths.get(s"$root/$name"))
    publish(name, df, Some(constraints))
  }

  def table(name: String): DataFrame = {
    val v = currentVersion(name)
    require(v >= 0, s"no such table: $name")
    lastRead.get.update(name, v) // snapshot a later publish CASes against
    readSnap(name, snapAt(name, v))
  }

  def exists(name: String): Boolean = Files.exists(versionFile(name))

  def constraintsOf(name: String): Seq[Constraint] =
    metas.get(name).orElse {
      val loaded = loadConstraints(name) // persisted by an earlier session
      loaded.foreach(cs => metas(name) = cs)
      loaded
    }.getOrElse(Nil)

  /** §2.1 S8 — DROP TABLE [CASCADE]: CASCADE drops dependents too. */
  def drop(name: String, cascade: Boolean = false): Unit = {
    if (cascade) dependents(name).foreach(drop(_, cascade = true))
    metas.remove(name)
    lastRead.get.remove(name) // a re-created table starts a fresh chain
    val dir = Paths.get(s"$root/$name")
    if (Files.exists(dir)) {
      import scala.jdk.CollectionConverters._
      Files.walk(dir).iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
    }
  }

  private def dependents(name: String): Seq[String] = {
    hydrateCatalog()
    metas.collect { case (t, cs)
      if cs.exists { case ForeignKey(_, ref, _, _) => ref == name; case _ => false } => t
    }.toSeq
  }

  /** §2.9 D5 / §2.1 S5-S7 — INSERT with optional ON CONFLICT (pk) DO
    * NOTHING: anti-join on the PK before union. Defaults are filled.
    * Returns the rows inserted, read off the stats of the published
    * version, so the batch runs once (in the write). */
  def insert(name: String, rows: DataFrame, onConflictDoNothing: Boolean = false): Long = {
    val cur = table(name)
    val cs = constraintsOf(name)
    val withDefaults = applyDefaults(rows.select(cur.columns.map(col).toSeq: _*), cs)
    val incoming =
      if (!onConflictDoNothing) withDefaults
      else cs.collectFirst { case PrimaryKey(cols) => cols } match {
        case Some(pk) =>
          withDefaults
            .join(cur.select(pk.map(col): _*), pk, "left_anti")
            // batch-internal conflicts: keep-first like the reference
            .dropDuplicates(pk)
        case None => withDefaults
      }
    val v = publish(name, cur.unionByName(incoming))
    growth(name, v).getOrElse(incoming.count())
  }

  /** §2.9 D5+ — upsert (INSERT … ON CONFLICT (pk) DO UPDATE / MERGE):
    * batch rows matching an existing PK overwrite that row's non-key
    * columns; the rest insert. Returns (nUpdated, nInserted).
    *
    * Like the SQL form, a batch carrying the same PK twice is refused —
    * "cannot update the same row twice" — rather than silently picking a
    * winner (DataFrames have no row order to break the tie with). The
    * pre-publish checks run before any write, so a refused batch leaves
    * the version pointer untouched (per-statement atomicity, D6).
    *
    * Scale: one broadcast of the batch against the table for the matched
    * rewrite + one anti-join for the inserts — the fact table is scanned,
    * never shuffled. The batch is checked by one aggregate; the insert
    * count comes from the published version's stats. */
  def upsert(name: String, rows: DataFrame): (Long, Long) = {
    val cur = table(name)
    val cs = constraintsOf(name)
    val pk = cs.collectFirst { case PrimaryKey(cols) => cols }.getOrElse(
      throw new IllegalArgumentException(s"upsert requires a PRIMARY KEY on $name"))
    val batch = applyDefaults(rows.select(cur.columns.map(col).toSeq: _*), cs).cache()
    try {
    // size + key uniqueness in one job, as in mergeInto
    val chk = batch.agg(count(lit(1)), count_distinct(struct(pk.map(col): _*))).head()
    val (nBatch, nDistinctPk) = (chk.getLong(0), chk.getLong(1))
    require(nDistinctPk == nBatch,
      s"upsert batch carries ${nBatch - nDistinctPk} duplicate PK rows; " +
        "ON CONFLICT DO UPDATE cannot update the same row twice")
    val nonKey = cur.columns.filterNot(c => pk.exists(_.equalsIgnoreCase(c)))
    val marked = batch
      .select(pk.map(col) ++ nonKey.map(c => col(c).as(s"__new_$c")): _*)
      .withColumn("__matched", lit(true))
    val joined = cur.join(broadcast(marked), pk, "left")
    val updated = joined.select(cur.columns.map { c =>
      if (nonKey.contains(c))
        when(col("__matched"), col(s"__new_$c")).otherwise(col(c)).as(c)
      else col(c)
    }.toSeq: _*)
    val inserted = batch.join(cur.select(pk.map(col): _*), pk, "left_anti")
    // the matched rewrite keeps the table's row count (batch keys are
    // unique), so the version grew by exactly the inserted rows
    val v = publish(name, updated.unionByName(inserted))
    val nInserted = growth(name, v).getOrElse(inserted.count())
    (nBatch - nInserted, nInserted)
    } finally batch.unpersist() // also on require/publish failure
  }

  /** CDC-style snapshot diff between two live versions (the consumer side
    * of time travel): full-outer join on the PRIMARY KEY, one row per key
    * whose content changed — `change` ∈ added | removed | changed — with
    * every non-key column emitted as `old_<c>` / `new_<c>`. Unchanged keys
    * are dropped. Null-safe comparison, so NULL→value and value→NULL both
    * count as changed.
    *
    * Scale: one PK-keyed full-outer join of the two snapshots — the same
    * shuffle a CDC reader pays anywhere; no window, no driver state. */
  def snapshotDiff(name: String, vFrom: Int, vTo: Int): DataFrame = {
    val pk = constraintsOf(name).collectFirst { case PrimaryKey(cols) => cols }
      .getOrElse(throw new IllegalArgumentException(
        s"snapshotDiff requires a PRIMARY KEY on $name"))
    val oldS = tableAt(name, vFrom)
    val newS = tableAt(name, vTo)
    val nonKey = oldS.columns.filterNot(c => pk.exists(_.equalsIgnoreCase(c)))
    val o = oldS.select(pk.map(col) ++ nonKey.map(c => col(c).as(s"old_$c"))
      :+ lit(true).as("__in_old"): _*)
    val n = newS.select(pk.map(col) ++ nonKey.map(c => col(c).as(s"new_$c"))
      :+ lit(true).as("__in_new"): _*)
    val changedCond = nonKey.map(c => !(col(s"old_$c") <=> col(s"new_$c")))
      .reduceOption(_ || _).getOrElse(lit(false))
    o.join(n, pk.toSeq, "full_outer")
      .withColumn("change",
        when(col("__in_old").isNull, "added")
          .when(col("__in_new").isNull, "removed")
          .when(changedCond, "changed").otherwise("same"))
      .filter(col("change") =!= "same")
      .select(pk.map(col) ++ Seq(col("change")) ++
        nonKey.flatMap(c => Seq(col(s"old_$c"), col(s"new_$c"))): _*)
  }

  /** Full MERGE (the 3-clause Delta/SQL:2003 form, generalizing [[upsert]]):
    *
    *   WHEN MATCHED AND <matchedDelete> THEN DELETE
    *   WHEN MATCHED THEN UPDATE SET <matchedUpdate>
    *   WHEN NOT MATCHED THEN INSERT   (if insertUnmatched)
    *
    * Clause order is SQL's: a matched row satisfying the delete condition
    * is deleted, never updated. Update RHS and the delete condition are
    * evaluated over the joined row — target columns under their own names,
    * source columns via [[TableStore.src]] (`src("c")`); all SET clauses
    * run in one projection, so every RHS observes the pre-update row.
    *
    * A source batch carrying the same key twice is refused before any
    * write (same per-statement atomicity as [[upsert]]). Deletes here are
    * plain row removal — FK cascade is [[delete]]'s contract, not MERGE's.
    *
    * Scale: the source is broadcast for both the matched rewrite and the
    * not-matched anti-join; the target is scanned once per leg and never
    * shuffled. Returns (nUpdated, nDeleted, nInserted): update/delete
    * counts are TARGET rows touched (a target whose join key is not
    * unique has every matching row updated, per SQL MERGE), insert counts
    * source rows.
    *
    * `withStats = false` skips the two counting-only jobs (matched split
    * + insert-leg count) and returns (-1, -1, -1) — for per-epoch CDC
    * consumers (q189's refresh) that never read the tallies, the counts
    * were pure per-batch scheduling toll. The duplicate-key guard always
    * runs; it is a correctness check, not a statistic. */
  def mergeInto(name: String, source: DataFrame, on: Seq[String],
                matchedUpdate: Map[String, Column],
                matchedDelete: Option[Column] = None,
                insertUnmatched: Boolean = true,
                withStats: Boolean = true): (Long, Long, Long) = {
    val cur = table(name)
    require(on.nonEmpty, "mergeInto requires join keys")
    val srcFull = source.select(cur.columns.map(col).toSeq: _*).cache()
    try {
      // one aggregate job for size + key uniqueness (a struct is non-null
      // even when every field is, so count_distinct over it counts null
      // keys exactly as the former select-distinct-count did)
      val chk = srcFull.agg(count(lit(1)),
        count_distinct(struct(on.map(col): _*))).head()
      val (nSrc, nDistinct) = (chk.getLong(0), chk.getLong(1))
      require(nDistinct == nSrc,
        s"merge source carries ${nSrc - nDistinct} duplicate key rows; " +
          "MERGE cannot touch the same target row twice")
      val nonKey = cur.columns.filterNot(c => on.exists(_.equalsIgnoreCase(c)))
      val marked = srcFull
        .select(on.map(col) ++ nonKey.map(c => col(c).as(s"__src_$c")): _*)
        .withColumn("__matched", lit(true))
      val joined = cur.join(broadcast(marked), on, "left")
      val matched = coalesce(col("__matched"), lit(false))
      val delCond = matchedDelete.map(c => matched && coalesce(c, lit(false)))
        .getOrElse(lit(false))
      val out = joined
        .filter(!delCond)
        .select(cur.columns.map { c =>
          matchedUpdate.find(_._1.equalsIgnoreCase(c)) match {
            case Some((_, rhs)) => when(matched, rhs).otherwise(col(c)).as(c)
            case None => col(c).as(c)
          }
        }.toSeq: _*)
      val inserted =
        if (insertUnmatched) srcFull.join(cur.select(on.map(col): _*), on, "left_anti")
        else cur.limit(0)
      // stats from the source perspective: matched rows split by delete
      // condition evaluated on the (target ⋈ source) row — one aggregate
      // job for both counts (each MERGE statement's driver-side jobs are
      // pure scheduling toll at small batch sizes)
      if (!withStats) {
        publish(name, out.unionByName(inserted))
        (-1L, -1L, -1L)
      } else {
        val matchedRows = cur.join(broadcast(marked), on, "inner")
        val mr = matchedRows.agg(count(lit(1)),
          sum(when(coalesce(matchedDelete.getOrElse(lit(false)), lit(false)), 1L)
            .otherwise(0L))).head()
        val nMatched = mr.getLong(0)
        val nDeleted = if (mr.isNullAt(1)) 0L else mr.getLong(1)
        val v = publish(name, out.unionByName(inserted))
        // the INSERT leg is the version's growth plus the deleted target
        // rows — counted in rows, never as nSrc - nMatched, which mixes
        // units when the TARGET carries duplicate join keys (nMatched
        // counts target rows, nSrc source rows) and can go negative
        val nInserted =
          if (insertUnmatched) growth(name, v).map(_ + nDeleted).getOrElse(inserted.count())
          else 0L
        (nMatched - nDeleted, nDeleted, nInserted)
      }
    } finally srcFull.unpersist()
  }

  /** Apply all SET clauses in ONE projection so every RHS observes the
    * pre-update row — SQL UPDATE semantics (SET a = b, b = a swaps; a
    * sequential withColumn fold would see the already-updated value).
    * `outCols` is the published column set; lookup is case-insensitive to
    * match Spark's column resolution. */
  private def applySet(df: DataFrame, outCols: Seq[String], pred: Column,
                       set: Map[String, Column]): DataFrame = {
    val unknown = set.keys.filterNot(k => outCols.exists(_.equalsIgnoreCase(k)))
    require(unknown.isEmpty, s"SET references unknown columns: ${unknown.mkString(", ")}")
    df.select(outCols.map { c =>
      set.collectFirst { case (k, v) if k.equalsIgnoreCase(c) =>
        when(pred, v).otherwise(col(c)).as(c)
      }.getOrElse(col(c))
    }: _*)
  }

  /** §2.9 D1 — UPDATE … SET … WHERE as a single when/otherwise projection. */
  def update(name: String, pred: Column, set: Map[String, Column]): Unit = {
    val cur = table(name)
    publish(name, applySet(cur, cur.columns.toSeq, pred, set))
  }

  /** §2.9 D2 — UPDATE … FROM join-update: left-join the (broadcastable)
    * source on `on` keys; matched rows take the source values. */
  def updateFrom(name: String, source: DataFrame, on: Seq[String],
                 set: Map[String, Column]): Unit = {
    val cur = table(name)
    val marked = source.withColumn("__matched", lit(true))
    val joined = cur.join(broadcast(marked), on, "left")
    publish(name, applySet(joined, cur.columns.toSeq, col("__matched"), set))
  }

  /** §2.9 D3 + §2.8 C2 — DELETE … WHERE with FK action propagation:
    * children with CASCADE delete their matching rows (recursively);
    * children with SET NULL null their FK columns; RESTRICT throws if any
    * child still references a deleted row. A table no foreign key points
    * at has nothing to propagate: its delete is the one write, and the
    * count comes from the published version's stats. */
  def delete(name: String, pred: Column): Long = {
    val cur = table(name)
    val kept = cur.filter(!coalesce(pred, lit(false)))
    if (dependents(name).isEmpty) {
      val v = publish(name, kept)
      growth(name, v).map(-_).getOrElse(cur.filter(pred).count())
    } else {
      val doomed = cur.filter(pred).cache()
      try {
        val nDeleted = doomed.count()
        if (nDeleted > 0) propagate(name, doomed)
        publish(name, kept)
        nDeleted
      } finally doomed.unpersist() // also when RESTRICT or the publish throws
    }
  }

  private def propagate(parentName: String, doomedParents: DataFrame): Unit = {
    val parentCs = constraintsOf(parentName)
    val parentPk = parentCs.collectFirst { case PrimaryKey(cols) => cols }
      .getOrElse(Seq.empty)
    if (parentPk.isEmpty) return
    val doomedKeys = doomedParents.select(parentPk.map(col): _*)
    hydrateCatalog() // children registered by an earlier session cascade too
    for ((child, cs) <- metas.toSeq; c <- cs) c match {
      case ForeignKey(cols, ref, refCols, action) if ref == parentName =>
        val childDf = table(child)
        val keyedDoomed = doomedKeys.toDF(cols: _*)
        action match {
          case Cascade =>
            val childDoomed = childDf.join(broadcast(keyedDoomed), cols, "left_semi")
            val n = childDoomed.count()
            if (n > 0) {
              propagate(child, childDoomed)
              // using-column joins move join keys first; restore layout
              publish(child, childDf.join(broadcast(keyedDoomed), cols, "left_anti")
                .select(childDf.columns.map(col).toSeq: _*))
            }
          case SetNull =>
            val marked = keyedDoomed.withColumn("__doomed", lit(true))
            val joined = childDf.join(broadcast(marked), cols, "left")
            val nulled = cols.foldLeft(joined) { (df, c) =>
              df.withColumn(c, when(col("__doomed"), lit(null)).otherwise(col(c)))
            }
            publish(child, nulled.select(childDf.columns.map(col).toSeq: _*))
          case Restrict =>
            val n = childDf.join(broadcast(keyedDoomed), cols, "left_semi").count()
            if (n > 0) throw new IllegalStateException(
              s"RESTRICT: $child has $n rows referencing deleted $parentName rows")
        }
      case _ => ()
    }
  }

  // ------------------------------------------------------------------
  // Partitioned copy-on-write (the 100 TB DML shape): a partitioned
  // version's record maps partition subdirs to the version directory that
  // owns them. Mutations rewrite ONLY the partitions the predicate
  // touches and re-point every other entry at its existing directory —
  // partition-level file reuse, the Delta/Iceberg snapshot idea in
  // miniature. The atomic VERSION flip is unchanged, so readers still
  // see complete snapshots.
  // Partition values may contain any characters: subdir names are built
  // with ExternalCatalogUtils.escapePathName, the same escaping
  // partitionBy applies on write, so record entries always match disk.
  // ------------------------------------------------------------------

  private def listPartSubdirs(dir: String): Seq[String] = {
    import scala.jdk.CollectionConverters._
    Files.list(Paths.get(dir)).iterator().asScala
      .filter(Files.isDirectory(_)).map(_.getFileName.toString)
      .filter(_.contains("=")).toSeq.sorted
  }

  /** Write `df` as version `v`'s files partitioned on `partCol` and return
    * `kept` plus its partition entries. When both are empty (a
    * partitionBy write of an empty frame leaves no files at all) the
    * frame is written whole instead and the version is the single "."
    * entry, so its schema survives. */
  private def writeParts(name: String, v: Int, df: DataFrame, partCol: String,
                         kept: Seq[(String, String)]): Seq[(String, String)] = {
    df.write.mode("overwrite").partitionBy(partCol).parquet(dataPath(name, v))
    val entries = (kept ++ listPartSubdirs(dataPath(name, v)).map(_ -> s"v$v")).sortBy(_._1)
    if (entries.nonEmpty) entries
    else {
      df.write.mode("overwrite").parquet(dataPath(name, v))
      Seq("." -> s"v$v")
    }
  }

  /** The frame over record `s`'s entries (entry subdir "." = a whole
    * version dir). Its schema deltas govern the read: each per-dir frame
    * is default-filled for columns added (metadata-only, [[addColumn]])
    * after that dir's files were written, so dirs written before and
    * after a schema change union cleanly. */
  private def readSnap(name: String, s: Snap): DataFrame = {
    val (deltas, entries) = (s.deltas, s.entries)
    // ONE datasource when no schema delta applies and every entry is a
    // whole version dir: the per-version split below plans (and
    // footer-samples) one parquet relation per dir, an O(append-chain)
    // planning cost per read that dominates long-chain epochs; without
    // deltas or partition subdirs it buys nothing. A snapshot whose stats
    // hold no row reads as an empty local relation with its recorded
    // schema, so Catalyst folds the joins and unions over it away instead
    // of scanning its footer-only file.
    if (deltas.isEmpty && entries.forall(_._1 == ".")) {
      val dirs = entries.map(_._2)
      val emptySchema =
        if (statsExactRowCount(name, entries).contains(0L)) recordedSchema(name, dirs) else None
      emptySchema.fold(readParquet(name, dirs)(dirs.map(vd => s"$root/$name/$vd"): _*))(
        spark.createDataFrame(java.util.Collections.emptyList[Row](), _))
    }
    else entries.groupBy(_._2).toSeq.sortBy(_._1).map { case (vd, es) =>
      val raw =
        if (es.exists(_._1 == "."))
          readParquet(name, Seq(vd))(s"$root/$name/$vd")
        else
          readParquet(name, Seq(vd), Some(s"$root/$name/$vd"))(
            es.map { case (sub, _) => s"$root/$name/$vd/$sub" }: _*)
      fillAddCols(raw, deltas, vd.stripPrefix("v").toInt)
    }.reduce(_ unionByName _)
  }

  // ------------------------------------------------------------------
  // Schema evolution: ALTER TABLE ADD COLUMN is METADATA-ONLY — the new
  // version's record points at the SAME data files as the old one and
  // adds a schema delta (column, type, default-expression). Readers fill
  // the column per file-dir (old files project the default, files
  // written later carry real values); the next physical write
  // materializes it for its own files. At 100 TB this is the only
  // acceptable ADD COLUMN: rewriting the table to add a column is a
  // full-corpus job, while this is one record. The same idea as
  // Delta/Iceberg metadata-only schema evolution.
  // ------------------------------------------------------------------

  /** Each delta records the version that introduced it (`atV`): replaying
    * over a file-dir applies ONLY deltas newer than the dir, because every
    * physical write materializes the full logical schema of its own
    * version. Presence checks alone would be wrong — after drop x /
    * re-add x / physical rewrite, the carried DROP must not strip the
    * rewritten files' real x values. */
  private sealed trait SchemaDelta { def atV: Int }
  private case class AddCol(col: String, typeDdl: String, default: String,
                            atV: Int) extends SchemaDelta
  private case class DropCol(col: String, atV: Int) extends SchemaDelta
  private case class RenameCol(from: String, to: String, atV: Int) extends SchemaDelta

  /** Replay schema deltas newer than one file-dir's version, IN ORDER,
    * over that dir's physical frame. */
  private def fillAddCols(df: DataFrame, deltas: Seq[SchemaDelta],
                          dirVersion: Int): DataFrame =
    deltas.filter(_.atV > dirVersion).foldLeft(df) {
      case (acc, AddCol(c, t, e, _)) =>
        if (acc.columns.exists(_.equalsIgnoreCase(c))) acc
        else acc.withColumn(c, expr(e).cast(t))
      case (acc, DropCol(c, _)) =>
        if (acc.columns.exists(_.equalsIgnoreCase(c))) acc.drop(c) else acc
      case (acc, RenameCol(f, t, _)) =>
        if (acc.columns.exists(_.equalsIgnoreCase(f))) acc.withColumnRenamed(f, t)
        else acc
    }

  /** ALTER-introduced identifiers land verbatim in the tab-separated
    * record, so a tab or newline would commit a line parseSnap can
    * never parse — validate BEFORE anything durable happens. */
  private def requireIdentifier(what: String, s: String): Unit =
    require(s.matches("[A-Za-z_][A-Za-z0-9_]*"),
      s"$what must be a plain identifier ([A-Za-z_][A-Za-z0-9_]*), got: '$s'")

  /** Commit a metadata-only ALTER over snapshot `v0`: the new version
    * reuses `v0`'s entries and adds `delta` (stamped with the new
    * version) and the table's new constraint list `cs`, which is
    * registered in memory once the flip is durable. */
  private def alter(name: String, v0: Int, cs: Seq[Constraint])(delta: Int => SchemaDelta): Unit = {
    commit(name, v0)((v, prev) => prev.copy(deltas = prev.deltas :+ delta(v), constraints = cs))
    metas(name) = cs
  }

  /** Does `pred` depend on `colName`? Analyzed against a FRESH empty
    * relation carrying only the remaining columns — Column exposes no
    * expression tree in the Spark 4 API, so resolution is the dependency
    * test, and it must be a fresh relation: filtering
    * `table(name).drop(col)` would false-negative because the analyzer's
    * missing-references rule resolves filter columns through a Project. */
  private def predDependsOn(name: String, colName: String, pred: Column): Boolean = {
    val remaining = org.apache.spark.sql.types.StructType(
      table(name).schema.filterNot(_.name.equalsIgnoreCase(colName)))
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], remaining)
    try { empty.filter(pred).queryExecution.analyzed; false }
    catch { case _: Throwable => true }
  }

  /** ALTER TABLE … ADD COLUMN with a constant DEFAULT (SQL expression
    * text, e.g. `"0"`, `"'unknown'"`, `"NULL"`). Metadata-only: no data
    * file is read or written. Existing rows read the default until a later
    * physical rewrite materializes it; INSERT/UPSERT batches must carry
    * the column (a registered DEFAULT backfills NULLs in inserts). */
  def addColumn(name: String, colName: String, typeDdl: String,
                defaultExpr: String = "NULL"): Unit = {
    val v0 = currentVersion(name)
    require(v0 >= 0, s"no such table: $name")
    requireIdentifier("ADD COLUMN name", colName)
    require(!table(name).columns.exists(_.equalsIgnoreCase(colName)),
      s"$name already has a column named $colName")
    require(!typeDdl.exists(c => c == '\t' || c == '\n' || c == '\r') &&
      !defaultExpr.exists(c => c == '\t' || c == '\n' || c == '\r'),
      "ADD COLUMN type/default must not contain tab or newline characters")
    val d = expr(defaultExpr).cast(typeDdl)
    // eagerly prove the default is a DETERMINISTIC CONSTANT of the
    // declared type: a 1-row ZERO-column probe (range minus id) rejects
    // any column reference at analysis, the collect rejects bad casts
    // under ANSI, and the determinism check rejects rand()-style defaults
    // that would make reads of one version non-reproducible
    val probe = spark.range(1).drop("id").select(d.as(colName))
    require(probe.queryExecution.analyzed.expressions.forall(_.deterministic),
      s"ADD COLUMN default must be deterministic, got: $defaultExpr")
    probe.collect()
    alter(name, v0, constraintsOf(name) :+ Default(colName, d))(
      AddCol(colName, typeDdl, defaultExpr, _))
  }

  /** ALTER TABLE … DROP COLUMN — metadata-only like [[addColumn]]: the
    * column disappears from every read immediately; the bytes in existing
    * files are ignored until a later physical rewrite drops them for its
    * own files. Refused for the partition column and for columns a
    * PRIMARY KEY / FOREIGN KEY / UNIQUE constraint depends on; DEFAULT
    * and NOT NULL registrations on the column are removed. */
  def dropColumn(name: String, colName: String): Unit = {
    val v0 = currentVersion(name)
    require(v0 >= 0, s"no such table: $name")
    require(table(name).columns.exists(_.equalsIgnoreCase(colName)),
      s"$name has no column named $colName")
    val partCol = snapAt(name, v0).partCol
    require(!partCol.equalsIgnoreCase(colName),
      s"cannot drop partition column $colName of $name")
    val cs = constraintsOf(name)
    val keyed = cs.exists {
      case PrimaryKey(cols) => cols.exists(_.equalsIgnoreCase(colName))
      case ForeignKey(cols, _, _, _) => cols.exists(_.equalsIgnoreCase(colName))
      case Unique(cols) => cols.exists(_.equalsIgnoreCase(colName))
      case Check(_, pred) => predDependsOn(name, colName, pred)
      case _ => false
    }
    require(!keyed, s"cannot drop $colName: a constraint on $name depends on it")
    // inbound FKs: a child table pointing AT this column blocks the drop
    hydrateCatalog()
    val inbound = metas.exists { case (_, cs) => cs.exists {
      case ForeignKey(_, ref, refCols, _) =>
        ref == name && refCols.exists(_.equalsIgnoreCase(colName))
      case _ => false
    } }
    require(!inbound, s"cannot drop $name.$colName: a foreign key references it")
    val newCs = cs.filterNot {
      case Default(c, _) => c.equalsIgnoreCase(colName)
      case NotNullCol(c) => c.equalsIgnoreCase(colName)
      case _ => false
    }
    alter(name, v0, newCs)(DropCol(colName, _))
  }

  /** ALTER TABLE … RENAME COLUMN — metadata-only like [[addColumn]]. Key
    * constraints (PK/FK/Unique, own and inbound), DEFAULT, and NOT NULL
    * registrations follow the rename; a CHECK predicate cannot be
    * rewritten (Column is opaque), so a CHECK-dependent rename is
    * refused. The partition column cannot be renamed (subdir names embed
    * it). */
  def renameColumn(name: String, from: String, to: String): Unit = {
    val v0 = currentVersion(name)
    require(v0 >= 0, s"no such table: $name")
    requireIdentifier("RENAME COLUMN target", to)
    val cols = table(name).columns
    require(cols.exists(_.equalsIgnoreCase(from)), s"$name has no column named $from")
    // a case-only rename (score -> Score) is legitimate; only a collision
    // with a DIFFERENT column is refused
    require(!cols.exists(c => c.equalsIgnoreCase(to) && !c.equalsIgnoreCase(from)),
      s"$name already has a column named $to")
    val partCol = snapAt(name, v0).partCol
    require(!partCol.equalsIgnoreCase(from),
      s"cannot rename partition column $from of $name")
    constraintsOf(name).foreach {
      case Check(label, pred) =>
        require(!predDependsOn(name, from, pred),
          s"cannot rename $name.$from: CHECK $label references it " +
            "(drop and re-create the constraint under the new name)")
      case _ => ()
    }
    def sub(c: String) = if (c.equalsIgnoreCase(from)) to else c
    def mapped(t: String, cs: Seq[Constraint]): Seq[Constraint] = cs.map {
      case PrimaryKey(ks) if t == name => PrimaryKey(ks.map(sub))
      case Unique(ks) if t == name => Unique(ks.map(sub))
      case ForeignKey(ks, ref, rks, od) =>
        ForeignKey(if (t == name) ks.map(sub) else ks, ref,
          if (ref == name) rks.map(sub) else rks, od)
      case Default(c, v) if t == name => Default(sub(c), v)
      case NotNullCol(c) if t == name => NotNullCol(sub(c))
      case other => other
    }
    // the table's OWN registrations commit atomically with the flip;
    // children holding an FK AT this table are re-persisted afterwards —
    // a separate record per table, so a crash between the flip and a child
    // write can leave that child's refCols one rename behind (multi-table
    // DDL has no single commit point on a filesystem; the stale refCol
    // then fails loudly at use, never silently)
    alter(name, v0, mapped(name, constraintsOf(name)))(RenameCol(from, to, _))
    hydrateCatalog() // other sessions' children carry refCols to rewrite
    metas.keys.toSeq.filter(_ != name).foreach { t =>
      val cs = metas(t)
      val ncs = mapped(t, cs)
      if (ncs != cs) setMeta(t, ncs) // only children actually touched
    }
  }

  /** CREATE TABLE … CLUSTERED BY (cols): range-repartition into `files`
    * files and sort within each — the write-side half of file-level data
    * skipping. Clustering gives files DISJOINT min/max ranges on the
    * cluster columns, so scanSkipping's footer stats eliminate all but
    * the overlapping files for a selective predicate; on an unclustered
    * write the same stats overlap everywhere and skip nothing. (The
    * Delta/Iceberg OPTIMIZE ... ZORDER idea, single-dimension form.) */
  def createClustered(name: String, df: DataFrame, clusterCols: Seq[String],
                      files: Int, constraints: Seq[Constraint] = Nil): Unit = {
    require(clusterCols.nonEmpty && files > 0)
    create(name,
      df.repartitionByRange(files, clusterCols.map(col): _*)
        .sortWithinPartitions(clusterCols.map(col): _*),
      constraints)
  }

  /** Time travel: the table AS OF version `v` (every mutation publishes a
    * new version, so versions are a complete history until [[analyze]]'s
    * vacuum reclaims superseded ones). Fails loudly on a vacuumed or
    * never-existing version rather than returning partial data. */
  def tableAt(name: String, v: Int): DataFrame = {
    requireLive(name, v)
    readSnap(name, snapAt(name, v))
  }

  /** Fail loudly unless version `v` of `name` exists and is still on
    * disk: the record answers it, no read is planned. */
  private def requireLive(name: String, v: Int): Unit = {
    val cur = currentVersion(name)
    require(cur >= 0, s"no such table: $name")
    require(v >= 0 && v <= cur, s"$name has no version $v (current: v$cur)")
    require(isLive(name, v), s"$name version $v was vacuumed; time travel only " +
      "reaches versions analyze() has not reclaimed")
  }

  /** Versions of `name` whose record and data are still on disk
    * (time-travel targets), oldest first. */
  def liveVersions(name: String): Seq[Int] =
    (0 to currentVersion(name)).filter(isLive(name, _))

  /** CREATE TABLE … clustered on a Z-ORDER curve (the multi-dimensional
    * sibling of [[createClustered]], the Delta/Iceberg OPTIMIZE ZORDER
    * idea): each numeric cluster column is bucketed into 256 equal-width
    * bins (width_bucket — codegen'd, no interpreted higher-order calls on
    * the write path), the bucket bits are INTERLEAVED into a Z-value, and
    * files are range-partitioned by it. A single-column sort gives perfect
    * skipping on that column and none on the others; the Z-curve gives
    * PARTIAL skipping on EVERY cluster dimension — the right trade for
    * multi-predicate scan workloads. Equal-width bins assume roughly
    * uniform value spread; heavy skew degrades balance, not correctness
    * (skipping stays conservative either way). */
  def createZOrdered(name: String, df: DataFrame, clusterCols: Seq[String],
                     files: Int, constraints: Seq[Constraint] = Nil): Unit =
    create(name, zClustered(df, clusterCols, files), constraints)

  private def zClustered(df: DataFrame, clusterCols: Seq[String], files: Int): DataFrame = {
    require(clusterCols.nonEmpty && files > 0)
    val BitsPerCol = 8
    val bins = 1 << BitsPerCol
    val aggCols = clusterCols.flatMap(c =>
      Seq(min(col(c)).cast("double"), max(col(c)).cast("double")))
    val stats = df.agg(aggCols.head, aggCols.tail: _*).head()
    val nCols = clusterCols.length
    val buckets = clusterCols.zipWithIndex.map { case (c, ci) =>
      val mn = stats.getDouble(2 * ci); val mx = stats.getDouble(2 * ci + 1)
      // width_bucket yields 1..bins inside [mn,mx]; clamp to 0-based bits
      least(greatest(width_bucket(col(c).cast("double"), lit(mn), lit(mx), lit(bins)) - 1,
        lit(0)), lit(bins - 1))
    }
    // interleave: output bit (i*nCols + ci) = bit i of column ci's bucket
    val z = (for (i <- 0 until BitsPerCol; ci <- 0 until nCols) yield
      shiftleft(shiftright(buckets(ci), i).bitwiseAND(lit(1)),
        i * nCols + ci)).reduce(_.bitwiseOR(_))
    df.withColumn("__z", z)
      .repartitionByRange(files, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
  }

  /** OPTIMIZE … ZORDER BY: re-cluster the CURRENT snapshot of an existing
    * table onto the Z-curve in one atomic version flip — the maintenance
    * form of [[createZOrdered]], run after enough appends/updates have
    * degraded the layout. Rows are untouched (same multiset; new file
    * boundaries + per-file stats), so skipping effectiveness is restored
    * without any semantic change. Follows [[compact]]'s conventions:
    * unpartitioned tables only, superseded versions vacuumed. */
  def optimizeZOrder(name: String, clusterCols: Seq[String],
                     files: Int): TableStore.TableStats =
    rewriteWhole(name)(zClustered(_, clusterCols, files))

  /** CREATE TABLE … PARTITIONED BY (partCol). */
  def createPartitioned(name: String, df: DataFrame, partCol: String,
                        constraints: Seq[Constraint] = Nil): Unit = {
    metas(name) = constraints
    Files.createDirectories(Paths.get(s"$root/$name"))
    commit(name, currentVersion(name)) { (v, prev) =>
      prev.copy(partCol = partCol, entries = writeParts(name, v, df, partCol, Nil),
        constraints = constraints)
    }
  }

  /** UPDATE … WHERE on a partitioned table, rewriting ONLY partitions the
    * predicate touches. Returns the set of partition values rewritten.
    * SET must not touch the partition column: a partition-moving update
    * would need to rewrite the destination partitions too, breaking the
    * "only touched partitions rewritten" contract. */
  def updateWherePruned(name: String, pred: Column, set: Map[String, Column]): Seq[String] =
    mutatePruned(name, pred,
      // column resolution is case-insensitive, so the guard must be too
      guard = p => require(!set.keys.exists(_.equalsIgnoreCase(p)),
        s"updateWherePruned cannot SET partition column $p; " +
          "rows may not move between partitions under a pruned rewrite")) { affected =>
      applySet(affected, affected.columns.toSeq, pred, set)
    }

  /** DELETE … WHERE on a partitioned table, partition-pruned like
    * [[updateWherePruned]]. */
  def deleteWherePruned(name: String, pred: Column): Seq[String] =
    mutatePruned(name, pred)(affected => affected.filter(!coalesce(pred, lit(false))))

  private def mutatePruned(name: String, pred: Column,
                           guard: String => Unit = _ => ())
                          (rewrite: DataFrame => DataFrame): Seq[String] = {
    val v = currentVersion(name)
    val partCol = snapAt(name, v).partCol // append chains carry none
    if (partCol.isEmpty) throw new IllegalArgumentException(s"$name is not a partitioned table")
    guard(partCol)
    // which partitions hold matching rows? parquet partition pruning makes
    // this scan cheap when pred constrains the partition column; the
    // distinct values land on the driver, so at most MaxPartitions + 1 are
    // collected and more fail loudly as a mis-keyed partition column
    val affected = graft.core.Resources.collectUnder(
      table(name).filter(pred).select(col(partCol).cast("string")).distinct(),
      TableStore.MaxPartitions)
    require(affected.isDefined,
      s"predicate touches more than ${TableStore.MaxPartitions} partitions of $name; " +
        s"$partCol looks mis-keyed for partition-pruned DML")
    val affectedRaw = affected.get.map(_.getString(0)).toSeq
    require(!affectedRaw.contains(null),
      s"partition column $partCol must be non-null " +
        "(a NULL partition cannot be addressed by a pruned rewrite)")
    val affectedVals = affectedRaw.sorted
    if (affectedVals.isEmpty) return Nil
    // partitionBy escapes special chars (space, '=', ':', '%', '/') in
    // subdir names — build ours the same way or the entries never match
    val affectedSubs = affectedVals
      .map(av => s"${ExternalCatalogUtils.escapePathName(partCol)}=${ExternalCatalogUtils.escapePathName(av)}")
      .toSet
    commit(name, v) { (newV, prev) =>
      val (touched, kept) = prev.entries.partition { case (sub, _) => affectedSubs(sub) }
      prev.copy(entries = writeParts(name, newV,
        rewrite(readSnap(name, prev.copy(entries = touched))), partCol, kept))
    }
    affectedVals
  }

  /** Which version directory owns each partition right now (spec hook:
    * proves untouched partitions are REUSED across versions); empty for
    * an unpartitioned table. */
  def partitionOwners(name: String): Map[String, String] =
    snapAt(name, currentVersion(name)).entries.filter(_._1 != ".").toMap

  /** Validate current contents against registered constraints. */
  def validateTable(name: String): Seq[Violation] =
    validate(table(name), constraintsOf(name), table _)

  // ------------------------------------------------------------------
  // Retention pins (VERDICT r16 next #1): time travel and compaction
  // were mutually exclusive — [[analyze]]'s vacuum reclaims every
  // superseded version by contract, so a lineage consumer had to turn
  // auto-compaction off to keep a reproducible snapshot. A PIN names a
  // version and carries it THROUGH compact/vacuum: the pinned version's
  // data directories and snapshot record are
  // exempt from reclamation until unpinned, while everything else keeps
  // the bounded-chain guarantee. Pins live in one durable PINS sidecar
  // (label \t version per line, atomic rewrite) — at 100 TB a pin costs
  // exactly the pinned snapshot's bytes, the price of keeping history.
  // ------------------------------------------------------------------

  private def pinsFile(name: String) = Paths.get(s"$root/$name/PINS")

  /** Durable named snapshots of `name`: label → pinned version. */
  def pinnedVersions(name: String): Map[String, Int] = {
    val p = pinsFile(name)
    if (!Files.exists(p)) Map.empty
    else new String(Files.readAllBytes(p)).split("\n").toSeq.filter(_.nonEmpty)
      .map { l =>
        l.split("\t", -1) match {
          case Array(label, ver) => label -> ver.toInt
          // HARD failure: a pin line silently DROPPED here would let the
          // very next vacuum delete the protected snapshot — an
          // unrecoverable data loss no later read could detect.
          // Writes are tmp+ATOMIC_MOVE, so a torn line means external
          // interference; stopping is the only safe answer.
          case other => sys.error(s"corrupt pin line in $p: ${other.mkString("\\t")}")
        }
      }.toMap
  }

  private def writePins(name: String, pins: Map[String, Int]): Unit =
    atomicWrite(pinsFile(name),
      pins.toSeq.sortBy(_._1).map { case (l, pv) => s"$l\t$pv" }.mkString("\n"))

  /** Pin a still-readable version (default: the current one) under
    * `label`, shielding it from every later vacuum until
    * [[unpinVersion]]. Re-pinning an existing label re-points it.
    * Returns the pinned version number.
    *
    * The read-modify-write of the PINS file is JVM-locked
    * ([[TableStore.pinsLock]]): two in-process pinners interleaving
    * would otherwise silently DROP one label — and an unprotected
    * snapshot is exactly what the next vacuum deletes. Cross-process
    * pin races remain the deployment catalog's job (same caveat as
    * every sidecar here). */
  def pinVersion(name: String, label: String, version: Int = -1): Int = {
    require(label.nonEmpty && !label.contains('\t') && !label.contains('\n'),
      "pin label must be non-empty and free of tab/newline")
    val cur = currentVersion(name)
    require(cur >= 0, s"no such table: $name")
    val v = if (version < 0) cur else version
    requireLive(name, v)
    TableStore.pinsLock.synchronized {
      writePins(name, pinnedVersions(name).updated(label, v))
    }
    v
  }

  /** Drop the pin `label`; its version is reclaimed by the NEXT vacuum
    * (nothing is deleted here). Returns whether the label existed. */
  def unpinVersion(name: String, label: String): Boolean =
    TableStore.pinsLock.synchronized {
      val pins = pinnedVersions(name)
      if (!pins.contains(label)) false
      else { writePins(name, pins - label); true }
    }

  /** Time travel to a pinned snapshot by label — the read side of
    * [[pinVersion]]. */
  def tableAtPin(name: String, label: String): DataFrame = {
    val v = pinnedVersions(name).getOrElse(label,
      throw new IllegalArgumentException(s"$name has no pinned snapshot '$label'"))
    tableAt(name, v)
  }

  // §2.1 S10 — VACUUM ANALYZE analog: refresh statistics for planning
  // (row count + on-disk bytes)
  // and drop superseded versions (the VACUUM half). PINNED versions
  // ([[pinVersion]]) are exempt: their data dirs and snapshot records
  // survive so time travel to a named snapshot outlives maintenance.
  // `retainVersions` threads a per-call retention window (the
  // compactLimit pattern — VERDICT r17 next #4): None falls back to the
  // store-wide `spark.graft.state.retainVersions` session conf.
  def analyze(name: String,
              retainVersions: Option[Int] = None): TableStore.TableStats = {
    val v = currentVersion(name)
    import scala.jdk.CollectionConverters._
    def rm(p: java.nio.file.Path): Unit =
      Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
    def sizeOf(p: java.nio.file.Path): Long =
      if (!Files.exists(p)) 0L
      else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_))
        .map(Files.size(_)).sum
    // a pinned version's entries count as LIVE for the vacuum below:
    // every data dir (or partition subdir) its read path stitches
    // together must survive, whatever shape the CURRENT version has.
    // `spark.graft.state.retainVersions` = N additionally keeps the last
    // N superseded versions as a rolling time-travel window (the policy
    // complement to named pins: pins mark releases, the window serves
    // "any version from the last N mutations" — both default-off, both
    // O(retained bytes) storage and zero maintenance time); the
    // parameter overrides the conf per call, so one store's lineage
    // policy never leaks into a concurrent gate on the same session
    val retain = retainVersions.getOrElse(
      spark.conf.getOption("spark.graft.state.retainVersions")
        .flatMap(x => scala.util.Try(x.toInt).toOption).getOrElse(0))
    val pinned = (pinnedVersions(name).values.toSet ++
      (v - retain until v).filter(_ >= 0)).filter(_ < v)
    val cur = snapAt(name, v)
    // vacuum: drop whole version dirs with no live entries AND dead
    // partition subdirs inside still-referenced old dirs (repeated pruned
    // updates otherwise leak superseded files); a version the window
    // reaches that an earlier vacuum already reclaimed has no record
    val liveByDir = (cur.entries ++ pinned.toSeq.flatMap(snapOpt(name, _)).flatMap(_.entries))
      .groupBy(_._2).view.mapValues(_.map(_._1).toSet).toMap
    (0 until v).foreach { old =>
      val od = Paths.get(dataPath(name, old))
      liveByDir.get(s"v$old") match {
        case None =>
          if (Files.exists(od)) rm(od)
          // a fully-dead version's file stats can go with it; stats of
          // still-referenced old dirs must survive for scanSkipping
          Files.deleteIfExists(statsFile(name, old))
        case Some(live) if Files.exists(od) && !live(".") =>
          listPartSubdirs(od.toString).filterNot(live)
            .foreach(sub => rm(od.resolve(sub)))
        case _ => ()
      }
      // pinned versions keep their record (their read path); claim
      // tombstones are deliberately KEPT: deleting v{old}.claim would let
      // a stale writer re-claim that number and regress VERSION — the
      // lost-update hole the CAS exists to close
      if (!pinned(old)) Files.deleteIfExists(snapFile(name, old))
    }
    // live bytes: sum exactly the record's entries, not whole dirs
    val bytes = cur.entries.map(e => sizeOf(entryDir(name, e))).sum
    TableStore.TableStats(
      statsExactRowCount(name, cur.entries).getOrElse(table(name).count()), bytes, v)
  }

  /** §2.1 S11 — catalog introspection (the reference reads pg_constraint,
    * All-Tasks-of-SQL.sql:33-36): list tables with their constraints. */
  def describeCatalog(): Seq[(String, Seq[String])] = {
    hydrateCatalog()
    metas.toSeq.sortBy(_._1).map { case (t, cs) => t -> cs.map(_.name) }
  }
}

object TableStore {
  final case class TableStats(rows: Long, bytes: Long, version: Int)

  /** Claims currently between claim and flip anywhere in THIS process,
    * keyed by absolute `root/name/vN` — JVM-global so a second
    * TableStore instance opened over the same root (an operator tool
    * recovering while a service is mid-publish) sees the live claim and
    * [[TableStore.releaseAbandonedClaim]] refuses to release it even
    * with a zero lease. Cross-process liveness is covered by the
    * lease. */
  private[sources] val inFlightClaims =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Serializes PINS-file read-modify-writes across every TableStore
    * instance in this process (see [[TableStore.pinVersion]]). */
  private[sources] val pinsLock = new Object

  /** Default lease for [[TableStore.releaseAbandonedClaim]]: a claim
    * younger than this is assumed to belong to a live writer in another
    * process and is NOT released. 10 minutes bounds a single publish
    * (one version write + pointer flip) generously; operators recovering
    * a known-dead table can pass an explicit shorter lease. */
  val DefaultClaimLeaseMs: Long = 10L * 60 * 1000

  /** An optimistic publish lost the CAS on the version chain: another
    * writer claimed (and possibly committed) the version this mutation
    * targeted. The losing transform wrote nothing — re-read the table and
    * retry, exactly like a serialization failure under Postgres
    * SERIALIZABLE or a Delta ConcurrentWriteException. */
  final class ConcurrentWriteException(val table: String, val version: Int)
    extends RuntimeException(
      s"concurrent write to $table: version v$version was claimed by " +
        "another writer since this mutation read its snapshot; retry on " +
        "the current snapshot")

  /** Reference a SOURCE column inside [[TableStore.mergeInto]]'s update
    * RHS / delete condition (target columns go by their own names). */
  def src(c: String): Column = col(s"__src_$c")

  /** Ceiling on distinct partition values one pruned mutation may touch.
    * Partition counts are catalog-sized by design (dates, categories); a
    * predicate touching more than this almost certainly means the table is
    * partitioned on a high-cardinality column and the driver-side distinct
    * collect in [[TableStore.mutatePruned]] would be the real OOM risk. */
  val MaxPartitions: Int = 100000
}
