package graft

import graft.core.GraftSession

/** q227 probe-seam split (VERDICT r18 next #7): the q227 gate pays TWO
  * forced-hot store builds + the coordinated release + the fusion per
  * run, so its wall is build-dominated and says nothing about what a
  * release SERVING read costs on its own. This main builds the pinned
  * stack ONCE per corpus (untimed apart from its own stopwatch), then
  * times the serving read alone — resolve the release, run BM25 + IVF
  * legs from the pinned snapshots, fuse — as best-of-2, the
  * [[EpochCostProbe]] pattern applied to the release seam.
  *
  * The claim under measurement: serving is RANK-BOUNDED — the BM25 leg
  * reads the probed terms' postings + matched doc lengths from the
  * snapshot, the IVF leg the probed cluster's lists, the fusion joins
  * two ≤ 50-row rankings — so serve_sec must stay near-flat across
  * corpus scale while build_sec grows with the data (snapshot reads
  * scan the historical version's files plainly — the audit path — so a
  * mild corpus-proportional term from the snapshot scan is expected;
  * "near-flat" here means nothing like the build's growth).
  *
  * Usage: runMain graft.ReleaseServeProbe <artifact> <dir> [dir...]
  * e.g. scale_r19_releaseserve.json /root/testdata/sf0.1 /tmp/graft_sf100
  */
object ReleaseServeProbe {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: ReleaseServeProbe <artifact> <dir> [dir...]")
    val artifact = args(0)
    val dirs = args.drop(1).toSeq
    val spark = GraftSession.builder("graft-releaseserve", 32).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def num(v: Double, digits: Int): String =
      String.format(java.util.Locale.ROOT, s"%.${digits}f", Double.box(v))
    val rows = dirs.map { d =>
      val idxRoot = java.nio.file.Files.createTempDirectory("graft-rsp-idx")
      val ivfRoot = java.nio.file.Files.createTempDirectory("graft-rsp-ivf")
      val catRoot = java.nio.file.Files.createTempDirectory("graft-rsp-cat")
      try {
        val t0 = System.nanoTime()
        val cat = operators.HybridOps.buildPinnedStack(spark, d,
          idxRoot.toString, ivfRoot.toString, catRoot.toString)
        val buildSec = (System.nanoTime() - t0) / 1e9
        val serves = (1 to 2).map { _ =>
          val t1 = System.nanoTime()
          val n = operators.HybridOps.servePinnedStack(cat).count()
          require(n > 0, s"empty serving read for $d")
          (System.nanoTime() - t1) / 1e9
        }
        println(s"[release-serve] $d build=${num(buildSec, 2)}s " +
          s"serve=${serves.map(num(_, 2)).mkString("/")}s")
        (d, buildSec, serves)
      } finally {
        operators.EventsOps.rmTree(idxRoot)
        operators.EventsOps.rmTree(ivfRoot)
        operators.EventsOps.rmTree(catRoot)
      }
    }
    val body = rows.map { case (d, b, ss) =>
      s"""  {"corpus": "$d", "build_sec": ${num(b, 3)}, """ +
        s""""serve_sec": [${ss.map(num(_, 3)).mkString(", ")}], """ +
        s""""serve_best_sec": ${num(ss.min, 3)}}"""
    }.mkString("[\n", ",\n", "\n]")
    val doc =
      s"""{"probe": "q227_release_serve_split",
         | ${Provenance.jsonFields},
         | "note": "build = two forced-hot store builds + coordinated release; serve = resolve release + pinned BM25/IVF legs + fusion, best-of-2; rank-bounded serving should stay near-flat while build grows with the corpus",
         | "runs": $body}""".stripMargin
    java.nio.file.Files.write(java.nio.file.Paths.get(artifact), doc.getBytes)
    println(s"[release-serve] artifact: $artifact")
    spark.stop()
  }
}
