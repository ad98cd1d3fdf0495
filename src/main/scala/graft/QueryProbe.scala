package graft

import graft.core.GraftSession
import graft.obs.Trace

/** The per-query measurement harness: run the named queries (args)
  * against SPARK_GRAFT_SF_DIR, timing each run inside a
  * [[graft.obs.Trace]] capture and printing its events after the run's
  * `[probe]` line — per-epoch walls, phase walls (q227's build/serve),
  * pruned store reads (files read of files total) and dedup candidate
  * counts — so a slow maintained-store gate decomposes into its
  * epoch/maintenance/serve parts instead of one opaque number. Same
  * session shape as Bench.
  *
  * Usage: runMain graft.QueryProbe q236_cluster_family_release [more...]
  * Env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_CPUS (default 32),
  *      SPARK_GRAFT_PROBE_RUNS (default 2), SPARK_GRAFT_PROBE_PLAN=1 to
  *      run each query once and dump its executed (AQE-final)
  *      .explain("formatted") plan, without AQE's per-run numbering
  *      ([[stablePlan]]), instead of timing,
  *      SPARK_GRAFT_PROBE_JOBS=1 to attribute every Spark job and SQL
  *      execution to its call site, SPARK_GRAFT_PROBE_CONF="k=v;k=v" to
  *      A/B session confs.
  */
object QueryProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val runs = sys.env.getOrElse("SPARK_GRAFT_PROBE_RUNS", "2").toInt
    val builder = GraftSession.builder("graft-probe", cpus)
    // SPARK_GRAFT_PROBE_CONF="k=v;k=v" — A/B one conf change at a time
    // (empty or '='-less segments — a trailing ';' — are skipped, not a
    // MatchError; ADVICE r19)
    sys.env.get("SPARK_GRAFT_PROBE_CONF").foreach(_.split(";").foreach { kv =>
      kv.split("=", 2) match {
        case Array(k, v) if k.trim.nonEmpty => builder.config(k.trim, v)
        case _ => ()
      }
    })
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Per-job attribution: call site + wall per Spark job, so a slow gate
    // decomposes into its actions (SPARK_GRAFT_PROBE_JOBS=1 to print).
    val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, (String, Long)]()
    val jobLog = new java.util.concurrent.ConcurrentLinkedQueue[(Int, String, Double)]()
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val site = j.stageInfos.headOption.map(_.name.takeWhile(_ != '+').trim)
          .getOrElse("?")
        jobStarts.put(j.jobId, (site, System.nanoTime())); ()
      }
      override def onJobEnd(j: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
        val st = jobStarts.remove(j.jobId)
        if (st != null) { jobLog.add((j.jobId, st._1, (System.nanoTime() - st._2) / 1e9)); () }
      }
      // SQL executions carry the action call site ("count at Foo.scala:12")
      private val sqlStarts = new java.util.concurrent.ConcurrentHashMap[Long, (String, Long)]()
      override def onOtherEvent(e: org.apache.spark.scheduler.SparkListenerEvent): Unit = e match {
        case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
          sqlStarts.put(s.executionId, (s.description, s.time)); ()
        case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd =>
          val st = sqlStarts.remove(s.executionId)
          if (st != null) { jobLog.add((-1, "SQL:" + st._1, (s.time - st._2) / 1e3)); () }
        case _ => ()
      }
    })
    val qs = SparkEntry.queries
    args.foreach { name =>
      val fn = qs.getOrElse(name, sys.error(s"unknown query $name"))
      if (sys.env.contains("SPARK_GRAFT_PROBE_PLAN")) {
        println(s"== PLAN $name ==")
        val df = fn(spark, sfDir)
        df.collect() // finalize AQE so the printed plan is the executed one
        // the repair fingerprint uses control-char concat separators, which
        // leak into the printed plan and make the output "binary" to
        // grep/diff tooling — render them as visible hex escapes instead
        println(stablePlan(df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode))
          .flatMap(c => if (c < 0x20 && c != '\n' && c != '\t' && c != '\r')
            f"\\x${c.toInt}%02x" else c.toString))
      } else (1 to runs).foreach { i =>
        jobLog.clear()
        val t0 = System.nanoTime()
        val (n, events) = Trace.capture(fn(spark, sfDir).count())
        val dt = (System.nanoTime() - t0) / 1e9
        if (sys.env.contains("SPARK_GRAFT_PROBE_JOBS")) {
          Thread.sleep(200) // let listener drain
          val jobs = {
            import scala.jdk.CollectionConverters._
            jobLog.iterator().asScala.toSeq
          }
          // SQL-execution rows (site "SQL:…") wrap the Spark jobs that run
          // inside them — sum them separately so the header never
          // double-counts a job against its enclosing execution (ADVICE r19)
          val (sqls, plain) = jobs.partition(_._2.startsWith("SQL:"))
          println(f"[jobs] $name run$i: ${plain.size} jobs, " +
            f"sum=${plain.map(_._3).sum}%.2f s; ${sqls.size} SQL executions, " +
            f"wall=${sqls.map(_._3).sum}%.2f s (overlapping)")
          jobs.groupBy(_._2).map { case (site, js) =>
            (site, js.size, js.map(_._3).sum)
          }.toSeq.sortBy(-_._3).take(30).foreach { case (site, cnt, tot) =>
            println(f"[jobs]   $tot%7.2f s  n=$cnt%-4d $site")
          }
        }
        println(f"[probe] $name run$i: $dt%.2f s rows=$n")
        events.foreach(e => println("[trace]   " + render(e)))
      }
    }
    spark.stop()
  }

  /** `plan` without AQE's run-to-run numbering: exchange plan ids are
    * dropped, and whole-stage-codegen and query-stage ids, which follow
    * the order stages happen to finish, are renumbered 1, 2, … in order
    * of first appearance. Two dumps of one commit then diff clean. */
  private[graft] def stablePlan(plan: String): String = {
    def renumber(s: String, r: scala.util.matching.Regex): String = {
      val rank = r.findAllMatchIn(s).map(_.group(2)).distinct.zipWithIndex.toMap
      r.replaceAllIn(s, m =>
        scala.util.matching.Regex.quoteReplacement(s"${m.group(1)}${rank(m.group(2)) + 1}"))
    }
    Seq("""(\[codegen id : )(\d+)""".r,
        """(QueryStage\nOutput \[\d+\]: [^\n]*\nArguments: )(\d+)""".r)
      .foldLeft(plan.replaceAll("""(, )?\[plan_id=\d+\]""", ""))(renumber)
  }

  private def render(e: Trace.Event): String = e match {
    case Trace.Epoch(epoch, sec) => f"epoch $epoch: $sec%.2f s"
    case Trace.Phase(name, sec) => f"phase $name: $sec%.2f s"
    case Trace.StoreRead(tag, total, read) => s"read $tag: $read/$total files"
    case Trace.Candidates(n) => s"candidates: $n"
  }
}
