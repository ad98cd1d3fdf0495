package graft

import graft.core.GraftSession

/** q199 epoch-cost probe (VERDICT r12 next #3 — the unmet r11 #2 "done"
  * criterion): run the streaming dedup ingest over a scaled corpus with
  * N equal doc_id slices and trace each epoch's wall. Batch size stays
  * constant per epoch while the signature store GROWS by one batch per
  * epoch, so a flat per-epoch wall demonstrates epoch cost tracks BATCH
  * size, not accumulated store size — the property the r12 kernel lost
  * (store-proportional ~31 s/epoch by epoch 4 at sf0.1).
  *
  * Usage: runMain graft.EpochCostProbe [corpusDir] [artifact]
  * (default: the ScaleBench 10× replica at /tmp/graft_sf1, which must
  * already exist, and scale_r15_epoch.json). Env levers:
  *  - SPARK_GRAFT_EPOCH_SLICES: slice count (default 8);
  *  - SPARK_GRAFT_EPOCH_FILES: sets `spark.graft.state.filesPerEpoch`
  *    for the run — OVERRIDES the self-sizing write layout (see
  *    Dedup.sizedStateFiles); leave unset to probe the default;
  *  - SPARK_GRAFT_EPOCH_COMPACT: sets
  *    `spark.graft.state.autoCompactVersions` (chain-length trigger of
  *    the auto-compaction policy; unset = the library default);
  *  - SPARK_GRAFT_EPOCH_DENSE=1: remap doc ids to a dense 1..N space
  *    first (order-preserving). The ScaleBench replicas offset each
  *    replica by 10^7, so doc_id-RANGE slicing lands whole replicas in
  *    some epochs and none in others — fine for the gated query, but
  *    this probe's control variable is CONSTANT batch size.
  *  - SPARK_GRAFT_EPOCH_SALT=1: prefix every token with its replica
  *    index (replica = doc_id div 10^7 — applied BEFORE any dense
  *    remap) so cross-replica shingle sets are DISJOINT by
  *    construction: within-replica near-dup structure is preserved
  *    exactly (uniform prefixing is a shingle bijection), but replicas
  *    can no longer band-collide with their salted copies. This is the
  *    realistic-density regime (VERDICT r15 next #3): the ScaleBench
  *    word-salt keeps cross-replica Jaccard under the 0.8 VERIFY bar
  *    but still band-collides ~11% of the store into candidates — a
  *    replication artifact; real corpora grow by NEW content. Leave
  *    unset to probe that adversarial dense-candidate regime. */
object EpochCostProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/tmp/graft_sf1")
    val artifact = if (args.length > 1) args(1) else "scale_r15_epoch.json"
    val slices = sys.env.get("SPARK_GRAFT_EPOCH_SLICES").map(_.toInt).getOrElse(8)
    val filesPerEpoch = sys.env.get("SPARK_GRAFT_EPOCH_FILES").map(_.toInt)
    val compactEvery = sys.env.get("SPARK_GRAFT_EPOCH_COMPACT").map(_.toInt)
    val spark = GraftSession.builder("graft-epochcost", 32).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    filesPerEpoch.foreach(n =>
      spark.conf.set("spark.graft.state.filesPerEpoch", n.toString))
    compactEvery.foreach(n =>
      spark.conf.set("spark.graft.state.autoCompactVersions", n.toString))
    // dense remap via the suite's own distributed global index (range
    // exchange + per-bucket row_number — ADVICE r14: the r13-era global
    // Window.orderBy single-partition sort was an OOM hazard at larger
    // replicas); order-preserving, so the strictly-increasing-ingest
    // contract holds
    val tmpDirs = scala.collection.mutable.ArrayBuffer.empty[java.nio.file.Path]
    val saltedDir = if (!sys.env.contains("SPARK_GRAFT_EPOCH_SALT")) dir else {
      val out = java.nio.file.Files.createTempDirectory("graft-epoch-salt")
      tmpDirs += out
      import org.apache.spark.sql.functions._
      spark.read.parquet(s"$dir/documents.parquet")
        .withColumn("text", array_join(
          transform(split(trim(col("text")), " "),
            t => concat(lit("r"), expr("doc_id div 10000000"), lit("_"), t)),
          " "))
        .write.parquet(s"$out/documents.parquet")
      out.toString
    }
    val corpusDir = if (!sys.env.contains("SPARK_GRAFT_EPOCH_DENSE")) saltedDir else {
      val out = java.nio.file.Files.createTempDirectory("graft-epoch-dense")
      tmpDirs += out
      import org.apache.spark.sql.functions._
      val src = spark.read.parquet(s"$saltedDir/documents.parquet")
      operators.CorpusOps.globalRowIndex(src, col("doc_id"))
        .withColumn("doc_id", col("i")).drop("i")
        .write.parquet(s"$out/documents.parquet")
      out.toString
    }
    sys.props("graft.epochTrace") = "1"
    operators.Dedup.epochTrace.clear()
    operators.Dedup.skipTrace.clear()
    operators.Dedup.candTrace.clear()
    // SPARK_GRAFT_EPOCH_OP selects the probed epoch body on the same
    // slicing / constant-batch / growing-store design and trace channels:
    //   dedup (default) — the q199 admission epoch;
    //   cluster         — the q203 cluster-maintenance epoch;
    //   index           — the q206 read-free index append (flat walls by
    //                     construction) + ONE serving probe at the end,
    //                     whose term/id file prunes land on store_reads;
    //   pinned-index    — the index arm with auto-compaction forced hot
    //                     (limit 2) and a retention pin held through all
    //                     the vacuums: flat walls = a pin costs storage,
    //                     never epoch time (q216's maintenance shape).
    val op = sys.env.getOrElse("SPARK_GRAFT_EPOCH_OP", "dedup")
    val t0 = System.nanoTime()
    val rows =
      try {
        if (op == "cluster")
          operators.DedupClusters.clusterProbeIngest(slices)(spark, corpusDir)
        else if (op == "index")
          operators.SearchOps.indexProbeIngest(slices)(spark, corpusDir)
        else if (op == "pinned-index")
          operators.SearchOps.pinnedIndexProbeIngest(slices)(spark, corpusDir)
        else operators.Dedup.q199Impl(slices = slices)(spark, corpusDir).count()
      } finally tmpDirs.foreach(operators.EventsOps.rmTree)
    val total = (System.nanoTime() - t0) / 1e9
    def num(v: Double, digits: Int): String =
      String.format(java.util.Locale.ROOT, s"%.${digits}f", Double.box(v))
    def drain[A](q: java.util.concurrent.ConcurrentLinkedQueue[A]): Seq[A] = {
      val b = scala.collection.mutable.ArrayBuffer.empty[A]
      val it = q.iterator()
      while (it.hasNext) b += it.next()
      b.toSeq
    }
    val epochs = drain(operators.Dedup.epochTrace).sortBy(_._1)
    val body = epochs.map { case (e, s) => s"""  {"epoch": $e, "sec": ${num(s, 2)}}""" }
      .mkString("[\n", ",\n", "\n]")
    // the pruned store's file-skip evidence: every pruned store read's
    // scheduled-vs-total file counts, in execution order — a growing
    // `total` with a bounded `read` is the scan term staying
    // probe-proportional while the store grows
    val skipBody = drain(operators.Dedup.skipTrace).map { case (tag, t, r) =>
      s"""  {"read": "$tag", "files_total": $t, "files_read": $r}"""
    }.mkString("[\n", ",\n", "\n]")
    // per-epoch candidate-doc cardinality, its own field (ADVICE r14: no
    // longer overloading the file-skip rows), in kernel execution order
    val candBody = drain(operators.Dedup.candTrace).mkString("[", ", ", "]")
    val probeName = op match {
      case "cluster" => "q203_epoch_cost"
      case "index" => "q206_epoch_cost"
      case "pinned-index" => "q216_epoch_cost"
      case _ => "q199_epoch_cost"
    }
    val doc =
      s"""{"probe": "$probeName", "corpus": "$dir", "slices": $slices,
         | "files_per_epoch": ${filesPerEpoch.map(_.toString).getOrElse("\"auto\"")},
         | "auto_compact_versions": ${compactEvery.map(_.toString).getOrElse("\"default\"")},
         | "dense_ids": ${sys.env.contains("SPARK_GRAFT_EPOCH_DENSE")},
         | "replica_salt": ${sys.env.contains("SPARK_GRAFT_EPOCH_SALT")},
         | ${Provenance.jsonFields},
         | "note": "equal doc_id batches; store grows one batch per epoch; flat per-epoch sec = batch-proportional cost",
         | "survivor_rows": $rows, "total_sec": ${num(total, 2)},
         | "epochs": $body,
         | "cand_docs": $candBody,
         | "store_reads": $skipBody}""".stripMargin
    java.nio.file.Files.write(java.nio.file.Paths.get(artifact),
      doc.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    println(s"[epoch-probe] rows=$rows total=${num(total, 2)}s epochs=" +
      epochs.map { case (e, s) => s"$e:${num(s, 2)}" }.mkString(","))
    spark.stop()
  }
}
