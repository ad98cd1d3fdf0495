package graft.core

import org.apache.spark.sql.SparkSession

/** SparkSession factory for the graft engine — the one place a session is
  * configured. Bench, Verify, the probes, the specs and the benchmark
  * harness all build through [[builder]], so every run plans under the
  * same config.
  *
  * Config posture (SURVEY.md §4 "Physical-execution defaults"):
  *  - UTC session timezone so timestamp semantics match the DuckDB oracle.
  *  - AQE on: runtime coalescing of shuffle partitions + skew-join handling.
  *  - `spark.sql.shuffle.partitions` = the local core count; on a real
  *    cluster this is sized to ~2-3x total cores / target 128-256 MB per
  *    shuffle partition at 100 TB.
  *  - `spark.sql.legacy.parquet.nanosAsLong`: events.ts encoding has
  *    drifted across data regenerations (nanos-long -> TIMESTAMP_NTZ
  *    micros); [[Tables]] normalizes every encoding at the loader, and
  *    this only matters for the nanos-long generation (SchemaDriftSpec
  *    pins the current encoding).
  *  - The native functions ([[graft.plans.GraftExtensions]]) are injected
  *    once per session; `newSession()`/`cloneSession()` inherit them.
  */
object GraftSession {
  def builder(appName: String = "graft", cores: Int = 32): SparkSession.Builder =
    SparkSession.builder()
      .appName(appName)
      .master(s"local[$cores]")
      .withExtensions(new graft.plans.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")

  /** A local session whose warehouse dir is private to this JVM and
    * deleted when it exits. */
  def local(appName: String = "graft-test", cores: Int = 4): SparkSession = {
    val warehouse = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"),
      s"graft-warehouse-${ProcessHandle.current().pid()}")
    Resources.deleteAtExit(warehouse)
    val s = builder(appName, cores)
      .config("spark.sql.warehouse.dir", warehouse.toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
