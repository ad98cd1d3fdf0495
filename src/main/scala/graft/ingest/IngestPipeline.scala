package graft.ingest

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DataType
import graft.constraints.Constraints
import graft.functions.CleanFunctions._

/** The reference's per-entity ingest/clean pipeline (SURVEY.md §3.2):
  * land → quarantine → repair → heal-parents → conform → verify, as pure
  * DataFrame-to-DataFrame stages. The reference runs this per entity
  * (suppliers TC:378-408, … reviews TC:1004-1117); here it is one
  * parameterized pipeline.
  *
  * Contract (property-tested in IngestPipelineSpec): conform never loses a
  * row — `clean + quarantined = input`; re-running over already-ingested
  * data is a no-op (ON CONFLICT DO NOTHING idempotence).
  *
  * Scale: all stages are narrow maps or broadcast existence joins
  * against parent key sets; nothing is collected to the driver.
  */
object IngestPipeline {

  /** How to conform one column from staging text to its final type. */
  sealed trait Conform
  case object AsText extends Conform
  case object AsUuid extends Conform              // validate + normalize, else NULL
  case object AsDateMdy extends Conform           // regex-guarded M/D/YYYY
  case object AsBool extends Conform              // yes/no vocabulary
  final case class AsTyped(t: DataType) extends Conform // int / decimal via cast

  final case class EntitySpec(
      name: String,
      pk: String,
      conform: Map[String, Conform],
      /** FK column → parent (key column, parent keys frame). */
      parents: Map[String, (String, DataFrame)] = Map.empty,
      /** Placeholder parent healing (reference TC:131-135 'UNKNOWN …'):
        * when set, orphan FKs are kept and a placeholder parent row is
        * expected to exist; when absent, orphan rows are quarantined. */
      healOrphans: Boolean = false)

  final case class IngestResult(clean: DataFrame, quarantined: DataFrame) {
    def counts: (Long, Long) = (clean.count(), quarantined.count())
  }

  /** Stage 1-2: trim everything (reference TC:469-480), blank→NULL, then
    * quarantine rows with an invalid/missing PK uuid (reference
    * TC:242-247 problem-rows tables). */
  def landAndQuarantine(staging: DataFrame, spec: EntitySpec): (DataFrame, DataFrame) = {
    val trimmed = trimAll(staging)
    // boolean columns keep '' — the reference's bool vocabulary maps blank
    // to false (TC:497-501), so blank→NULL must not run first there
    val blanked = trimmed.columns.foldLeft(trimmed)((df, c) =>
      if (spec.conform.get(c).contains(AsBool)) df
      else df.withColumn(c, blankToNull(col(c))))
    val pkOk = validUuid(col(spec.pk))
    (blanked.filter(coalesce(pkOk, lit(false))),
      blanked.filter(!coalesce(pkOk, lit(false))))
  }

  /** Stage 3: repair — regenerate invalid PKs deterministically (the
    * reference uses gen_random_uuid(), TC:253-255; we derive uuid5 from
    * the row fingerprint so repair is reproducible, SURVEY.md §7.4).
    * Fields are joined with U+0001 and NULLs marked U+0000 so the
    * fingerprint is unambiguous under concatenation (("ab","c") never
    * collides with ("a","bc")); the oracle mirrors this with chr(1)/chr(0). */
  def repairPks(quarantined: DataFrame, spec: EntitySpec): DataFrame = {
    val fingerprint = concat_ws("\u0001",
      quarantined.columns.filter(_ != spec.pk).map(c => coalesce(col(c), lit("\u0000"))).toSeq: _*)
    quarantined.withColumn(spec.pk, uuid5(s"repair:${spec.name}", fingerprint))
  }

  /** Stage 4: heal referential integrity — either quarantine orphans or
    * keep them (placeholder-parent strategy, reference TC:758-768). An
    * orphan flag per FK edge tests membership in the (broadcast) parent
    * key set as an existence join, one scan per output. */
  def healParents(df: DataFrame, spec: EntitySpec): (DataFrame, DataFrame) =
    if (spec.parents.isEmpty || spec.healOrphans) (df, df.limit(0))
    else {
      val edges = spec.parents.toSeq
      val (marked, flags) = Constraints.withOrphanFlags(df, edges.map { case (fkCol, (refCol, parentDf)) =>
        Seq(fkCol) -> broadcast(parentDf.select(normalizeUuid(col(refCol))))
      })
      val orphan = flags.reduce(_ || _)
      // each FK column first, as the per-edge USING joins this replaced
      // laid the columns out — tables created from the clean frame keep
      // that order
      val order = edges.map(_._1).foldLeft(df.columns.toSeq) { (cols, fk) =>
        val (key, rest) = cols.partition(_.equalsIgnoreCase(fk))
        key ++ rest
      }
      (marked.filter(!orphan).select(order.map(col): _*),
        marked.filter(orphan).select(order.map(col): _*))
    }

  /** Stage 5: conform text → typed (reference TC:280-292 casts); any
    * column that fails its parse becomes NULL (quarantine-first, so this
    * matches Postgres' throw-on-garbage semantics without throwing). */
  def conform(df: DataFrame, spec: EntitySpec): DataFrame =
    spec.conform.foldLeft(df) { case (acc, (c, how)) =>
      acc.withColumn(c, how match {
        case AsText => col(c)
        case AsUuid => when(validUuid(col(c)), normalizeUuid(col(c))).otherwise(lit(null))
        case AsDateMdy => parseDateMdy(col(c))
        case AsBool => parseBool(col(c))
        // try_cast, not cast: under ANSI (on, matching Postgres
        // error-on-garbage semantics) a plain cast would throw; conform
        // sends unparseable values to NULL instead (SURVEY.md §2.7 F9).
        case AsTyped(t) => expr(s"try_cast(`$c` AS ${t.sql})")
      })
    }

  /** Full pipeline for one entity. */
  def run(staging: DataFrame, spec: EntitySpec): IngestResult = {
    val (landed, badPk) = landAndQuarantine(staging, spec)
    val repaired = repairPks(badPk, spec)
    val withRepaired = landed.unionByName(repaired)
      .withColumn(spec.pk, normalizeUuid(col(spec.pk)))
    val (healed, orphans) = healParents(withRepaired, spec)
    IngestResult(conform(healed, spec), orphans)
  }

  /** Stage 6: verify — the reference's count dashboard (TC:405-408). */
  def verifyCounts(staging: DataFrame, result: IngestResult): DataFrame = {
    val s = staging.sparkSession
    import s.implicits._
    Seq(
      ("staging", staging.count()),
      ("clean", result.clean.count()),
      ("quarantined", result.quarantined.count())
    ).toDF("stage", "n")
  }
}
