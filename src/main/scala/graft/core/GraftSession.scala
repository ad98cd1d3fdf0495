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
  *  - `spark.sql.icu.caseMappings.enabled` off: with it on (the Spark 4.1
  *    default), the first `lower`/`upper` in a JVM builds ICU's case table
  *    by title-casing all 1,114,112 code points, about 1.4 s of one task
  *    and 3.3 GB of garbage on a cold batch run, which grows the heap past
  *    `-Xms` (BENCH_NOTES "Cold-JVM allocation"). Off, ASCII strings take
  *    the locale-free ASCII path as before and other strings the JVM's
  *    case mapping (the Spark 3 behaviour), which follows the JVM's
  *    default locale (tr, az and lt map some letters differently);
  *    SessionSpec pins the results, so a Turkish JVM fails loudly.
  *  - `spark.broadcast.blockSize` = 256k: every broadcast (each stage's
  *    task binary, each scan's Hadoop conf, each hash-join build) allocates
  *    one chunk of this size, and the 4 MB default is a humongous object
  *    under any G1 region size up to 8 MB (1.62 GB of them per cold ETL
  *    pass); 256 KB is under the 512 KB humongous threshold of the
  *    smallest region.
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
      .config("spark.sql.icu.caseMappings.enabled", "false")
      .config("spark.broadcast.blockSize", "256k")

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
