package graft.perfbench

import java.nio.file.{Files, Path}
import scala.collection.mutable
import org.apache.spark.BenchBus
import org.apache.spark.sql.SparkSession
import graft.core.GraftSession

/** Closed-loop benchmark client: one thread issues a workload's operations
  * one after another, pass after pass, for a fixed time, in one JVM.
  *
  *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *        --inputs <dir> --out <dir> [--cores k] [--inputs-seconds s]
  *
  * `--inputs` holds what the seed generated (`sf/` tables, `etl/` CSVs);
  * the program sees nothing else. Results go to `<out>/jvm.json`: the
  * end-to-end metrics, the per-layer metrics when tracing, the counts of
  * attempted and failed operations, and the outputs to compare against
  * the DuckDB oracle (written under `<out>/results`). */
object Main {

  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        inputs: Path, out: Path, cores: Int, inputsSeconds: Double)

  final case class OpSample(pass: Int, name: String, wallS: Double)

  /** The program files whose jobs are reported one by one. */
  val AttributedFiles: Seq[String] = Seq(
    "sources.TableStore", "ingest.IngestPipeline", "ingest.Normalizer",
    "constraints.Constraints", "analytics.ReferenceTasks", "operators.SearchOps",
    "operators.Similarity", "operators.Dedup")

  /** Spans the client records around calls into each layer; each is
    * reported as `<name>_s`, 0 where a workload never calls the layer. */
  val SpanNames: Seq[String] = Seq("graft.build", "catalyst.plan", "spark.exec",
    "ingest.IngestPipeline.run", "ingest.Normalizer.normalize",
    "constraints.Constraints.validate", "constraints.Constraints.auditReport") ++
    Seq("create", "insert", "upsert", "mergeInto", "update", "delete").map("sources.TableStore." + _)

  /** Per-layer numbers only the ETL produces (see ReferenceEtl.layer). */
  val EtlLayer: Seq[String] = Seq("ingest.rows_per_s", "ingest.quarantine_ratio",
    "sources.TableStore.write_amp")

  /** Queries whose exact job count per pass is reported. */
  val CountedQueries: Seq[String] = Seq(
    "q101_bm25_rank", "q99_conjunctive_search", "q51_ann_ivf_probe")

  private def parse(args: Array[String]): Opts = {
    val kv = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
      Path.of(need("inputs")), Path.of(need("out")),
      kv.get("cores").map(_.toInt).getOrElse(4), kv.get("inputs-seconds").map(_.toDouble).getOrElse(0.0))
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val wl = Workloads(o.workload)
    Files.createDirectories(o.out)

    // set-up: JVM start to a ready session (the inputs were laid out
    // before the JVM started; run.py passes that time in)
    val spark = GraftSession.builder("perfbench", o.cores)
      .config("spark.sql.warehouse.dir", o.out.resolve("warehouse").toString)
      .config("spark.local.dir", o.out.resolve("spark-local").toString)
      .getOrCreate()
    val setupS = o.inputsSeconds + (System.currentTimeMillis() - jvmStartMs) / 1e3
    val sc = spark.sparkContext
    val samples = mutable.ArrayBuffer.empty[OpSample]
    val expectedRows = mutable.Map.empty[String, Long]
    val failures = mutable.ArrayBuffer.empty[String]
    val passWall = mutable.Map.empty[Int, Double]
    val passCpu = mutable.Map.empty[Int, Double]
    val layerByPass = mutable.Map.empty[Int, Map[String, Double]]
    val tmpDelta = mutable.ArrayBuffer.empty[Double]
    val rddDelta = mutable.ArrayBuffer.empty[Double]
    val memoBuilds = mutable.ArrayBuffer.empty[Double]
    val ledger = new JobLedger
    val allSpans = mutable.ArrayBuffer.empty[Spans]
    val oracles = mutable.LinkedHashMap.empty[String, String]
    var attempted = 0L

    /** One pass: every operation once, back to back. The first pass keeps
      * the collected results and writes the oracle-backed ones for the
      * DuckDB comparison after its timing ends. */
    def runPass(pass: Int, traced: Boolean): Unit = {
      val ctx = new Ctx(spark, new Spans(traced), o.inputs, o.out, o.seed, keep = pass == 0)
      allSpans += ctx.spans
      wl.beforePass(ctx, pass)
      val ops = wl.ops(ctx)
      ops.foreach(op => op.oracle.foreach(oracles(op.name) = _))
      val tmpBefore = Workloads.tmpEntries()
      val rddsBefore = sc.getPersistentRDDs.size
      if (traced) {
        sc.addSparkListener(ledger)
        sc.setLocalProperty(JobLedger.PassKey, pass.toString)
      }
      val startMs = System.currentTimeMillis()
      val cpu0 = processCpuNs
      val t0 = System.nanoTime()
      ops.zipWithIndex.foreach { case (op, i) =>
        ctx.spans.pass = pass
        ctx.spans.op = i
        sc.setLocalProperty(JobLedger.OpKey, i.toString)
        sc.setLocalProperty(JobLedger.OwnerKey, op.owner)
        val s0 = System.nanoTime()
        val rows = try Some(ctx.spans(s"op.${op.name}")(op.run()))
          catch { case e: Throwable =>
            failures += s"pass $pass ${op.name}: ${e.getClass.getSimpleName}: ${e.getMessage}"
            None
          }
        val wall = (System.nanoTime() - s0) / 1e9
        val ok = rows.isDefined && expectedRows.getOrElseUpdate(op.name, rows.get) == rows.get
        if (rows.isDefined && !ok)
          failures += s"pass $pass ${op.name}: ${rows.get} rows, expected ${expectedRows(op.name)}"
        attempted += 1
        samples += OpSample(pass, op.name, wall)
        System.err.println(f"[op] pass $pass ${op.name} $wall%.3f s")
      }
      val wall = (System.nanoTime() - t0) / 1e9
      passCpu(pass) = (processCpuNs - cpu0) / 1e9
      val endMs = System.currentTimeMillis()
      System.err.println(f"[pass] $pass ${ops.size} ops $wall%.3f s")
      Seq(JobLedger.PassKey, JobLedger.OpKey, JobLedger.OwnerKey).foreach(sc.setLocalProperty(_, null))
      if (traced) { BenchBus.drain(sc); sc.removeSparkListener(ledger) }
      val tmpAfter = Workloads.tmpEntries()
      passWall(pass) = wall
      tmpDelta += (tmpAfter.size - tmpBefore.size).toDouble
      rddDelta += (sc.getPersistentRDDs.size - rddsBefore).toDouble
      memoBuilds += Workloads.memoDirs(tmpAfter -- tmpBefore).size.toDouble
      ops.filter(_.oracle.isDefined).foreach(op => ctx.writeKept(op.name, o.out.resolve("results")))
      wl.afterPass(ctx, pass).collect { case (check, false) =>
        failures += s"pass $pass check $check failed"
      }
      if (traced)
        layerByPass(pass) = passLayer(pass, wall, startMs, endMs, o.cores, ops, ctx.spans, ledger) ++
          wl.layer(ctx, pass, wall)
      wl.afterChecks(ctx, pass)
    }

    // passes until --seconds have elapsed, at least one. The first runs
    // cold, as it does for a user who starts the program: both workloads
    // are batch jobs, and one cold pass already outlasts run_seconds.
    val deadline = System.nanoTime() + (o.seconds * 1e9).toLong
    var pass = 0
    while (pass == 0 || System.nanoTime() < deadline) {
      runPass(pass, o.trace)
      pass += 1
    }
    val passes = passWall.keys.toSeq.sorted
    val opWalls = samples.map(_.wallS).toSeq
    val wallS = median(passes.map(passWall))

    val e2e = Map(
      "setup_s" -> setupS,
      "wall_s" -> wallS,
      "cpu_s" -> median(passes.map(passCpu)),
      "peak_rss_mb" -> peakRssMb)

    val layer: Map[String, Double] = if (!o.trace) Map.empty else {
      val keys = passes.flatMap(layerByPass(_).keys).distinct
      val perPass = keys.map(k => k -> median(passes.map(p => layerByPass(p).getOrElse(k, 0.0)))).toMap
      val (tailS, tailPct) = tail(opWalls)
      perPass ++ Map(
        "trace.wall_s" -> wallS,
        "memo.builds" -> mean(memoBuilds.toSeq),
        "tmp.dirs_delta" -> mean(tmpDelta.toSeq),
        "spark.cached_rdds_delta" -> mean(rddDelta.toSeq),
        "op.p50_s" -> median(opWalls),
        "op.tail_s" -> tailS,
        "op.tail_pct" -> tailPct,
        "op.samples" -> opWalls.size.toDouble)
    }

    if (o.trace) writeSpans(o.out.resolve("spans.jsonl"), allSpans.toSeq.flatMap(_.all))
    val verify = oracles.toSeq.map { case (n, sql) => (n, sql, samples.count(_.name == n)) }
    writeResult(o.out.resolve("jvm.json"), attempted, failures.toSeq, e2e, layer, verify)
    failures.take(20).foreach(f => System.err.println(s"[perfbench] FAILED $f"))
    spark.stop()
  }

  /** Per-layer numbers of one traced pass, from its spans and its jobs. */
  private def passLayer(pass: Int, wallS: Double, startMs: Long, endMs: Long, cores: Int,
                        ops: Seq[Op], spans: Spans, ledger: JobLedger): Map[String, Double] = {
    val jobs = ledger.jobs(pass)
    val t = ledger.passTally(pass)
    val jobS = JobLedger.unionSeconds(jobs.map(j => (j.startMs, j.endMs)))
    val mb = 1024.0 * 1024.0
    val spanSums = SpanNames.map(n => s"${n}_s" -> spans.seconds(n, pass)).toMap
    val fileJobs = AttributedFiles.flatMap { f =>
      val js = jobs.filter(_.site == f)
      Seq(s"$f.jobs" -> js.size.toDouble, s"$f.job_s" -> js.map(j => (j.endMs - j.startMs) / 1e3).sum)
    }
    val queryJobs = CountedQueries.map { q =>
      val idx = ops.indexWhere(_.name == q)
      s"$q.jobs" -> jobs.count(j => idx >= 0 && j.op == idx).toDouble
    }
    val taskOwners = ops.zipWithIndex.filter(_._1.owner == "analytics.ReferenceTasks").map(_._2).toSet
    EtlLayer.map(_ -> 0.0).toMap ++ spanSums ++ fileJobs ++ queryJobs ++ Map(
      "scheduler.jobs" -> jobs.size.toDouble,
      "scheduler.stages" -> t.stages.toDouble,
      "scheduler.tasks" -> t.tasks.toDouble,
      "scheduler.sql_execs" -> ledger.sqlExecs(startMs, endMs).toDouble,
      "scheduler.job_s" -> jobS,
      "scheduler.driver_only_s" -> (wallS - jobS),
      "exec.task_s" -> t.taskS,
      "exec.core_util" -> t.taskS / (wallS * cores),
      "exec.gc_s" -> t.gcS,
      "exec.shuffle_write_mb" -> t.shuffleWriteB / mb,
      "exec.shuffle_read_mb" -> t.shuffleReadB / mb,
      "exec.spill_mb" -> t.spillB / mb,
      "exec.input_mb" -> t.inputB / mb,
      "exec.output_mb" -> t.outputB / mb,
      "driver.result_mb" -> t.resultB / mb,
      "jvm.heap_after_gc_mb" -> heapAfterGcMb,
      "analytics.ReferenceTasks.tasks_s" ->
        spans.all.filter(s => s.pass == pass && s.parent == -1 && taskOwners.contains(s.op))
          .map(_.seconds).sum)
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** The highest percentile with at least ten samples beyond it, and its
    * value: (0, 0) when there are too few samples to have one. */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val n = xs.size
    if (n < 20) (0.0, 0.0)
    else {
      val s = xs.sorted
      val idx = n - 11 // ten samples lie above s(idx)
      (s(idx), 100.0 * (idx + 1) / n)
    }
  }

  /** CPU time of every thread of this JVM (user + system). Time the host
    * steals from the guest is not charged, unlike wall time. */
  def processCpuNs: Long =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** Peak resident set of this process, from the kernel's high-water mark. */
  def peakRssMb: Double = {
    val status = new String(Files.readAllBytes(Path.of("/proc/self/status")))
    status.split("\n").find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(0.0)
  }

  /** Heap still in use right after the last collection, over all pools. */
  def heapAfterGcMb: Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / (1024.0 * 1024.0)
  }

  def treeBytes(root: Path): Long =
    if (!Files.exists(root)) 0L
    else {
      val s = Files.walk(root)
      try { import scala.jdk.CollectionConverters._
        s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum }
      finally s.close()
    }

  private def q(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  private def obj(m: Map[String, Double]): String =
    m.toSeq.sortBy(_._1).map { case (k, v) => s"${q(k)}: ${num(v)}" }.mkString("{", ", ", "}")

  private def writeResult(to: Path, attempted: Long, failures: Seq[String],
                          e2e: Map[String, Double], layer: Map[String, Double],
                          verify: Seq[(String, String, Int)]): Unit = {
    val v = verify.map { case (name, oracle, runs) =>
      s"""{"op": ${q(name)}, "oracle": ${q(oracle)}, "runs": $runs}"""
    }.mkString("[", ",\n  ", "]")
    Files.writeString(to,
      s"""{"attempted": $attempted, "failed": ${failures.size},
         | "failures": ${failures.map(q).mkString("[", ", ", "]")},
         | "end_to_end": ${obj(e2e)},
         | "per_layer": ${obj(layer)},
         | "verify": $v}
         |""".stripMargin)
  }

  private def writeSpans(to: Path, spans: Seq[Span]): Unit =
    Files.writeString(to, spans.map { s =>
      s"""{"id": ${s.id}, "parent": ${s.parent}, "name": ${q(s.name)}, "op": ${s.op}, """ +
        s""""pass": ${s.pass}, "start_ns": ${s.startNs}, "end_ns": ${s.endNs}}"""
    }.mkString("", "\n", "\n"))
}
