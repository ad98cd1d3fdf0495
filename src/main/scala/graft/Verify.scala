package graft
import graft.core.GraftSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = GraftSession.builder("graft-verify", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // Local-iteration filter: SPARK_GRAFT_ONLY takes FULL query names
    // (e.g. q63_contamination,q22_window_rank_agg) and restricts the dump
    // (and the oracle manifest) to them. Unset = full run — the driver
    // path is unchanged.
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").map(_.trim).toSet)
    def wanted(name: String) = only.forall(_.contains(name))
    only.foreach { names =>
      val unknown = names.filterNot(SparkEntry.queries.contains)
      if (unknown.nonEmpty)
        System.err.println(
          s"[verify] WARNING: SPARK_GRAFT_ONLY names match no query: " +
            s"${unknown.mkString(", ")} (full names required, e.g. q63_contamination)")
      if (!SparkEntry.queries.keys.exists(names.contains))
        System.err.println(
          "[verify] WARNING: SPARK_GRAFT_ONLY selected ZERO queries — " +
            "this run verifies nothing")
    }
    // failures are COLLECTED, not just logged: round 7's 10 broken
    // queries silently vanished from the correctness artifact (thrown →
    // no parquet → driver drops the row); _errors.json makes a partial
    // dump unmistakable at a glance
    val errors = scala.collection.mutable.ListBuffer[(String, String)]()
    SparkEntry.queries.filter(kv => wanted(kv._1)).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        errors += name -> s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql.filter(kv => wanted(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val errJson = errors.sortBy(_._1)
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/_errors.json"), errJson)
    Files.writeString(Paths.get(s"$outDir/_provenance.json"),
      s"{${Provenance.jsonFields}}")
    if (errors.nonEmpty)
      System.err.println(s"[verify] ${errors.size} queries FAILED (see _errors.json)")
    spark.stop()
  }
}
