package graft

import graft.core.GraftSession

/** Benchmark main (driver contract): times every registered query on
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line.
  *
  * A first untimed pass at sf0.001 warms JIT/codegen caches so the timed
  * numbers measure the queries, not JVM startup.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = GraftSession.builder("graft-bench", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val warmDir = "/root/testdata/sf0.001"
    if (new java.io.File(warmDir).isDirectory && warmDir != sfDir)
      SparkEntry.queries.foreach { case (_, fn) =>
        try fn(spark, warmDir).count() catch { case _: Throwable => () }
      }

    // best-of-2: single runs at this scale carry ±40% GC/scheduling noise;
    // the min is the steady-state cost of the query itself.
    // A query that THROWS records None, not its time-to-throw — counting
    // a broken query's ~0.05s abort as a runtime once hid 10 broken
    // queries inside a "faster" total (VERDICT r7).
    val results = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val times = (1 to 2).flatMap { _ =>
        val t0 = System.nanoTime()
        try { fn(spark, sfDir).count(); Some((System.nanoTime() - t0) / 1e9) }
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getClass.getSimpleName}: ${e.getMessage}")
          None
        }
      }
      name -> times.minOption
    }
    val errored = results.collect { case (name, None) => name }
    // The driver captures only the last 2,000 bytes of the log (measured
    // from BENCH_r03, whose full 88-query line already overflowed it and
    // parsed as null), so a 145-query map can NEVER ride the stdout line.
    // Split the record: the COMPLETE per-query JSON goes to a repo
    // artifact, and stdout carries a parsable headline with the 25
    // slowest queries — the ones any perf read actually looks at.
    // Locale.ROOT-pinned decimal formatting: the f"" interpolator uses the
    // default locale, and a comma-decimal locale would emit "1,234" —
    // unparsable JSON on both the stdout headline and the full artifact
    def num(v: Double, digits: Int): String =
      String.format(java.util.Locale.ROOT, s"%.${digits}f", Double.box(v))
    // errored queries render as "err" and are EXCLUDED from the total;
    // n_errors on the headline makes a partial run unmistakable
    def render(v: Option[Double], digits: Int): String =
      v.map(num(_, digits)).getOrElse("\"err\"")
    val ok = results.collect { case (_, Some(v)) => v }
    val total = ok.sum
    val fullQs = results.map { case (k, v) => s""""$k":${render(v, 3)}""" }
      .mkString("{", ",", "}")
    java.nio.file.Files.write(java.nio.file.Paths.get("bench_local_full.json"),
      s"""{"metric":"total","value":${num(total, 3)},"unit":"sec","queries":$fullQs,"sf":"$sfDir","n_ok":${ok.size},"n_errors":${errored.size},"errors":${errored.map(e => s""""$e"""").mkString("[", ",", "]")},${Provenance.jsonFields}}"""
        .getBytes)
    // errored queries sort LAST here: they are already surfaced via
    // n_errors/errors, and a -MaxValue key would let up to 25 "err"
    // entries displace the genuinely slowest queries from the headline
    val slow = results.sortBy(_._2.map(-_).getOrElse(Double.MaxValue)).take(25).sortBy(_._1)
      .map { case (k, v) => s""""$k":${render(v, 2)}""" }.mkString("{", ",", "}")
    println(s"""{"metric":"total","value":${num(total, 2)},"unit":"sec","queries":$slow,"sf":"$sfDir","n_queries":${results.size},"n_errors":${errored.size},"full":"bench_local_full.json","commit":"${Provenance.commit}"}""")
    spark.stop()
  }
}
