package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.constraints.Constraints._
import graft.functions.CleanFunctions.normalizeUuid
import graft.ingest.IngestPipeline.EntitySpec

/** The per-check forms of [[graft.constraints.Constraints.validate]],
  * [[graft.constraints.Constraints.auditReport]] and
  * [[graft.ingest.IngestPipeline.healParents]]: one count() per
  * constraint, one aggregate per audit, one distinct + broadcast left
  * join per FK edge. The fused versions must answer exactly as these do
  * (ConstraintsSpec, IngestPipelineSpec). */
object ConstraintsReference {

  def validate(df: DataFrame, constraints: Seq[Constraint],
               parents: String => DataFrame): Seq[Violation] =
    constraints.flatMap {
      case PrimaryKey(cols) =>
        val nulls = df.filter(cols.map(col(_).isNull).reduce(_ || _))
        val dups = df.groupBy(cols.map(col): _*).count().filter(col("count") > 1)
        Seq(check(s"pk-null(${cols.mkString(",")})", nulls),
          check(s"pk-dup(${cols.mkString(",")})", dups)).flatten
      case Unique(cols) =>
        check(s"unique-dup(${cols.mkString(",")})",
          df.filter(cols.map(col(_).isNotNull).reduce(_ && _))
            .groupBy(cols.map(col): _*).count().filter(col("count") > 1))
      case fk @ ForeignKey(cols, refTable, refCols, _) =>
        val parent = parents(refTable).select(refCols.map(col): _*).toDF(cols: _*)
        val orphans = df.filter(cols.map(col(_).isNotNull).reduce(_ && _))
          .join(parent, cols, "left_anti")
        check(fk.name, orphans)
      case c @ Check(_, pred) => check(c.name, df.filter(!pred || pred.isNull))
      case NotNullCol(c) => check(s"notnull($c)", df.filter(col(c).isNull))
      case Default(_, _) => None
    }

  private def check(name: String, rows: DataFrame): Option[Violation] = {
    val n = rows.count()
    if (n > 0) Some(Violation(name, rows, n)) else None
  }

  def auditReport(df: DataFrame, pk: Seq[String],
                  fks: Seq[(Seq[String], DataFrame, Seq[String])]): DataFrame = {
    val dupPk = df.groupBy(pk.map(col): _*).count().filter(col("count") > 1)
      .agg(coalesce(sum(col("count") - 1), lit(0L)).as("n")).withColumn("audit", lit("duplicate_pk"))
    val nullPk = df.filter(pk.map(col(_).isNull).reduce(_ || _))
      .agg(count(lit(1)).as("n")).withColumn("audit", lit("null_pk"))
    val orphanChecks = fks.zipWithIndex.map { case ((cols, parent, refCols), i) =>
      df.filter(cols.map(col(_).isNotNull).reduce(_ && _))
        .join(parent.select(refCols.map(col): _*).toDF(cols: _*), cols, "left_anti")
        .agg(count(lit(1)).as("n")).withColumn("audit", lit(s"orphan_fk_$i"))
    }
    (Seq(dupPk, nullPk) ++ orphanChecks).reduce(_ unionByName _).select("audit", "n")
  }

  def healParents(df: DataFrame, spec: EntitySpec): (DataFrame, DataFrame) =
    if (spec.parents.isEmpty || spec.healOrphans) (df, df.limit(0))
    else {
      var marked = df
      var flags = Seq.empty[Column]
      for (((fkCol, (refCol, parentDf)), i) <- spec.parents.toSeq.zipWithIndex) {
        val keys = parentDf.select(normalizeUuid(col(refCol)).as(fkCol)).distinct()
          .withColumn(s"__p$i", lit(true))
        marked = marked.join(broadcast(keys), Seq(fkCol), "left")
        flags = flags :+ (col(fkCol).isNotNull && col(s"__p$i").isNull)
      }
      val orphan = flags.reduce(_ || _)
      val hidden = spec.parents.toSeq.indices.map(i => s"__p$i")
      (marked.filter(!orphan).drop(hidden: _*), marked.filter(orphan).drop(hidden: _*))
    }
}
