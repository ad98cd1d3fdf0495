package graft.constraints

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Declarative constraint registry + checker (SURVEY.md §2.8): Spark has no
  * enforced constraints, so the reference's PK/FK/UNIQUE/CHECK/NOT NULL/
  * DEFAULT semantics become a validation layer the DML engine
  * ([[graft.sources.TableStore]]) consults on write, plus an audit suite
  * mirroring the reference's dashboards (TablesCreated-Imported
  * .sql:1139-1176).
  *
  * Every check is a distributed aggregate / existence join — no
  * driver-side row iteration, so validation scales with the cluster.
  */
object Constraints {

  sealed trait OnDelete
  case object Cascade extends OnDelete  // reference TC:53 orders→customers
  case object SetNull extends OnDelete  // reference TC:36 products→suppliers
  case object Restrict extends OnDelete // reference AT:338 subcategories→categories

  sealed trait Constraint { def name: String }
  final case class PrimaryKey(cols: Seq[String]) extends Constraint {
    def name = s"pk(${cols.mkString(",")})"
  }
  final case class ForeignKey(cols: Seq[String], refTable: String,
                              refCols: Seq[String], onDelete: OnDelete) extends Constraint {
    def name = s"fk(${cols.mkString(",")}→$refTable)"
  }
  final case class Unique(cols: Seq[String]) extends Constraint {
    def name = s"unique(${cols.mkString(",")})"
  }
  final case class Check(label: String, predicate: Column) extends Constraint {
    def name = s"check($label)"
  }
  final case class NotNullCol(colName: String) extends Constraint {
    def name = s"notnull($colName)"
  }
  /** Fill-on-insert default (reference All-Tasks-of-SQL.sql:141-149). */
  final case class Default(colName: String, value: Column) extends Constraint {
    def name = s"default($colName)"
  }

  final case class Violation(constraint: String, rows: DataFrame, count: Long)

  /** One check of [[validate]]: its violation name, the lazy frame a
    * violation exposes, and how it is counted — a row flag of the fused
    * scan, a group count of the fused PK grouping (`pkDup`), or its own
    * action. */
  private final case class Probe(name: String, rows: DataFrame,
                                 flag: Option[Column] = None, pkDup: Boolean = false)

  /** Validate a frame against constraints; FK parents resolved by name.
    *
    * One Spark action covers the table: the row-level checks (PK null,
    * CHECK, NOT NULL, FK orphan) are flags over one scan, summed per
    * group of the first PRIMARY KEY's grouping, which also counts its
    * duplicate groups. Only UNIQUE (and a second, different PK) keeps its
    * own grouping action. Violations come in constraint order, and each
    * one's `rows` is the same lazy frame a per-check count would run. */
  def validate(df: DataFrame, constraints: Seq[Constraint],
               parents: String => DataFrame): Seq[Violation] = {
    val pk = constraints.collectFirst { case PrimaryKey(cols) => cols }
    val fks = constraints.collect { case fk: ForeignKey => fk }
    val parentKeys = fks.map(fk => parents(fk.refTable).select(fk.refCols.map(col): _*))
    val (withKeys, orphan) = withOrphanFlags(df, fks.map(_.cols).zip(parentKeys))
    val orphanOf = fks.zip(orphan.zip(parentKeys)).toMap
    val probes = constraints.flatMap {
      case PrimaryKey(cols) =>
        val nullKey = cols.map(col(_).isNull).reduce(_ || _)
        Seq(Probe(s"pk-null(${cols.mkString(",")})", df.filter(nullKey), Some(nullKey)),
          Probe(s"pk-dup(${cols.mkString(",")})", dupGroups(df, cols), pkDup = pk.contains(cols)))
      case Unique(cols) =>
        Seq(Probe(s"unique-dup(${cols.mkString(",")})",
          dupGroups(df.filter(cols.map(col(_).isNotNull).reduce(_ && _)), cols)))
      case fk @ ForeignKey(cols, _, _, _) =>
        val (flag, keys) = orphanOf(fk)
        Seq(Probe(fk.name, df.filter(cols.map(col(_).isNotNull).reduce(_ && _))
          .join(keys.toDF(cols: _*), cols, "left_anti"), Some(flag)))
      case c @ Check(_, pred) =>
        val bad = !pred || pred.isNull
        Seq(Probe(c.name, df.filter(bad), Some(bad)))
      case NotNullCol(c) => Seq(Probe(s"notnull($c)", df.filter(col(c).isNull), Some(col(c).isNull)))
      case Default(_, _) => Nil // write-time fill, not a validation
    }
    // the fused action's counts by probe index: each flag's total, and
    // the duplicate groups of the first PK's grouping (a PK always
    // brings its pk-null flag, so flags exist whenever it does)
    val flagAt = probes.indices.filter(probes(_).flag.nonEmpty)
    val fused: Map[Int, Long] =
      if (flagAt.isEmpty) Map.empty
      else {
        val (groups, flagTotals) = groupFlags(withKeys, pk.getOrElse(Nil), flagAt.map(probes(_).flag.get))
        val totals = groups.agg(count(when(col("__rows") > 1, 1)), flagTotals: _*).head()
        flagAt.zipWithIndex.map { case (i, k) => i -> totals.getLong(k + 1) }.toMap ++
          probes.indices.filter(probes(_).pkDup).map(_ -> totals.getLong(0))
      }
    probes.zipWithIndex.flatMap { case (p, i) =>
      val n = fused.getOrElse(i, p.rows.count())
      if (n > 0) Some(Violation(p.name, p.rows, n)) else None
    }
  }

  /** One scan of `withKeys` grouped on `key` (no key: one group): each
    * group's row count `__rows` and per-flag true counts, plus the
    * aggregate expressions that total each flag over the groups. */
  private def groupFlags(withKeys: DataFrame, key: Seq[String],
                         flags: Seq[Column]): (DataFrame, Seq[Column]) = {
    val names = flags.indices.map(i => s"__flag$i")
    val groups = withKeys.select(key.map(col) ++ flags.zip(names).map { case (f, n) => f.as(n) }: _*)
      .groupBy(key.map(col): _*)
      .agg(count(lit(1)).as("__rows"), names.map(n => count(when(col(n), 1)).as(n)): _*)
    (groups, names.map(n => coalesce(sum(col(n)), lit(0L)).as(n)))
  }

  /** Key groups of `df` holding more than one row, with their `count`. */
  private def dupGroups(df: DataFrame, cols: Seq[String]): DataFrame =
    df.groupBy(cols.map(col): _*).count().filter(col("count") > 1)

  /** `df` plus one hidden copy of each FK column, and per FK a flag that
    * is true where every FK column is non-null and no row of its parent
    * key frame (columns matched to the FK columns by position) carries
    * that key — the left-anti condition as an EXISTS subquery, which
    * Spark plans as an existence join inside the one scan of `df`: no
    * distinct and no extra shuffle per FK. Both key sides get private
    * names because `outer()` resolves a name the parent's own lineage
    * also carries against the parent. */
  private[graft] def withOrphanFlags(df: DataFrame,
      fks: Seq[(Seq[String], DataFrame)]): (DataFrame, Seq[Column]) = {
    def outerKey(i: Int, j: Int) = s"__fk${i}_$j"
    val copies = for (((cols, _), i) <- fks.zipWithIndex; (c, j) <- cols.zipWithIndex)
      yield col(c).as(outerKey(i, j))
    val flags = fks.zipWithIndex.map { case ((cols, keys), i) =>
      val ref = cols.indices.map(j => s"__ref${i}_$j")
      val matched = keys.toDF(ref: _*)
        .where(cols.indices.map(j => col(ref(j)) === col(outerKey(i, j)).outer()).reduce(_ && _))
        .exists()
      cols.indices.map(j => col(outerKey(i, j)).isNotNull).reduce(_ && _) && !matched
    }
    (if (copies.isEmpty) df else df.select(col("*") +: copies: _*), flags)
  }

  /** Apply Default constraints to an incoming batch (fill NULLs). */
  def applyDefaults(df: DataFrame, constraints: Seq[Constraint]): DataFrame =
    constraints.foldLeft(df) {
      case (acc, Default(c, v)) => acc.withColumn(c, coalesce(col(c), v))
      case (acc, _) => acc
    }

  /** The reference's audit dashboard (TC:1139-1176) for one table:
    * `(audit, n)` rows — duplicate_pk (rows beyond the first per key),
    * null_pk, then orphan_fk_<i> per FK — from one aggregate over the
    * PK grouping, the row flags summed inside it. */
  def auditReport(df: DataFrame, pk: Seq[String],
                  fks: Seq[(Seq[String], DataFrame, Seq[String])]): DataFrame = {
    val (withKeys, orphan) = withOrphanFlags(df,
      fks.map { case (cols, parent, refCols) => cols -> parent.select(refCols.map(col): _*) })
    val (groups, flagTotals) = groupFlags(withKeys, pk, pk.map(col(_).isNull).reduce(_ || _) +: orphan)
    val totals = groups.agg(
      coalesce(sum(when(col("__rows") > 1, col("__rows") - 1)), lit(0L)).as("__dup"), flagTotals: _*)
    val audits = "duplicate_pk" +: "null_pk" +: fks.indices.map(i => s"orphan_fk_$i")
    totals.select(inline(array(audits.zip(totals.columns).map { case (audit, c) =>
      struct(lit(audit).as("audit"), col(c).as("n"))
    }: _*)))
  }
}
