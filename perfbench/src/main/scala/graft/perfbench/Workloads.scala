package graft.perfbench

import java.nio.file.{Files, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType
import graft.core.QueryDef
import graft.operators

/** Everything an operation needs from the run: the session, the span
  * recorder, the laid-out inputs and the run directory. With `keep`, query
  * results are kept for the oracle comparison. */
final class Ctx(val spark: SparkSession, val spans: Spans, val inputs: Path,
                val runDir: Path, val seed: Long, keep: Boolean) {
  private val kept = scala.collection.mutable.Map.empty[String, (Array[Row], StructType)]

  def sfDir: String = inputs.resolve("sf").toString

  /** The DataFrame-API operation shape shared by every query: build the
    * frame (program code), force the physical plan (Catalyst), run the
    * final action (Spark). Returns the number of result rows. */
  def query(name: String, build: => DataFrame): Long = {
    val df = spans("graft.build")(build)
    spans("catalyst.plan")(df.queryExecution.executedPlan)
    val rows = spans("spark.exec")(df.collect())
    if (keep) kept(name) = (rows, df.schema)
    rows.length.toLong
  }

  /** Write a kept result as parquet under `dir/<name>`. */
  def writeKept(name: String, dir: Path): Unit =
    kept.get(name).foreach { case (rows, schema) =>
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
        .coalesce(1).write.mode("overwrite").parquet(dir.resolve(name).toString)
    }
}

/** One operation of a pass. `owner` is the `<pkg>.<File>` of the module
  * the operation calls into; `oracle` is the DuckDB SQL its output must
  * match, when it has one. `run` returns the number of result rows. */
final case class Op(name: String, owner: String, oracle: Option[String], run: () => Long)

/** A named workload: its operations in the order one pass issues them,
  * plus the hooks around each pass. */
trait Workload {
  def ops(ctx: Ctx): Seq[Op]
  def beforePass(ctx: Ctx, pass: Int): Unit = ()
  /** Invariant checks after a pass, outside its timing: (check, passed). */
  def afterPass(ctx: Ctx, pass: Int): Seq[(String, Boolean)] = Nil
  /** Workload-specific per-layer numbers for the pass just checked. */
  def layer(ctx: Ctx, pass: Int, wallS: Double): Map[String, Double] = Map.empty
  /** Release what the pass left behind, once checks and layers are read. */
  def afterChecks(ctx: Ctx, pass: Int): Unit = ()
}

object Workloads {
  def apply(name: String): Workload = name match {
    case "reference_etl" => new ReferenceEtl
    case "sql_analytics" => SqlAnalytics
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }

  def queryOp(q: QueryDef, owner: String, ctx: Ctx): Op =
    Op(q.name, owner, q.oracle, () => ctx.query(q.name, q.build(ctx.spark, ctx.sfDir)))

  private val MemoDir = "graft-(ivf|search-index|chunk-index|graph-memo|sigstore)-?\\d+".r

  /** Memo store directories among the names in a temp dir. */
  def memoDirs(names: Set[String]): Set[String] = names.filter(n => MemoDir.matches(n))

  def tmpEntries(): Set[String] = {
    val dir = Path.of(System.getProperty("java.io.tmpdir"))
    val s = Files.list(dir)
    try { import scala.jdk.CollectionConverters._; s.iterator().asScala.map(_.getFileName.toString).toSet }
    finally s.close()
  }
}

/** Read-only queries through `SparkEntry.queries`, each run once in a
  * fresh JVM as Verify runs them: at least one oracle-backed
  * query from each DataFrame/SQL module of the star schema, plus
  * retrieval (BM25 ranking and conjunctive search over the documents,
  * IVF probe-1 nearest neighbours over the embeddings). Never writes
  * through TableStore and builds no memo. */
object SqlAnalytics extends Workload {
  private val queries: Seq[(String, QueryDef)] = Seq(
    "operators.Analytics" -> operators.Analytics.q02,
    "operators.Analytics" -> operators.Analytics.q07,
    "operators.Windows" -> operators.Windows.q21,
    "operators.Audits" -> operators.Audits.q28,
    "operators.SqlEntry" -> operators.SqlEntry.q109,
    "operators.NativeOps" -> operators.NativeOps.q56,
    "operators.SetOps" -> operators.SetOps.q64,
    "operators.AsofJoin" -> operators.AsofJoin.q65,
    "operators.BloomJoin" -> operators.BloomJoin.q96,
    "operators.TextAnalysis" -> operators.TextAnalysis.q42,
    "operators.SearchOps" -> operators.SearchOps.q101,
    "operators.SearchOps" -> operators.SearchOps.q99,
    "operators.Similarity" -> operators.Similarity.q51)

  /** A fixed order: in a cold pass each query's wall depends on what ran
    * before it (class loading, JIT), so the order is part of the workload
    * and the seed varies only the inputs. */
  def ops(ctx: Ctx): Seq[Op] = queries.map { case (owner, q) => Workloads.queryOp(q, owner, ctx) }
}
