package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.core.Resources
import graft.operators.Dedup
import graft.sources.TableStore

/** The checkpoint seam (VERDICT r14 next #3): every eager pin in the
  * engine goes through `Resources.pin`, which defaults to
  * `localCheckpoint` (single-JVM executor-local blocks) and switches to
  * a RELIABLE `checkpoint()` rooted at `spark.graft.checkpointDir` when
  * that conf is set — the posture a multi-executor deployment needs,
  * where local blocks die with their executor. */
class CheckpointDirSpec extends SparkSpec {
  import spark.implicits._

  private def rddDirs(root: java.nio.file.Path): Seq[String] = {
    import scala.jdk.CollectionConverters._
    if (!Files.exists(root)) Nil
    else Files.walk(root).iterator().asScala
      .filter(p => p.getFileName.toString.startsWith("rdd-"))
      .map(_.toString).toSeq
  }

  test("pin defaults to local blocks; spark.graft.checkpointDir switches to reliable files") {
    val df = spark.range(0, 100).toDF("id").withColumn("v", col("id") * 3)

    // default: no conf → localCheckpoint, nothing written anywhere
    val local = Resources.pin(df)
    local.agg(sum("v")).head.getLong(0) shouldBe (0L until 100L).map(_ * 3).sum
    local.rdd.partitions should not be empty // materialized

    // conf set: the pin must produce a reliably-checkpointed frame whose
    // rdd-* payload lives under the configured root
    val dir = tempDir("graft-ckpt")
    spark.conf.set("spark.graft.checkpointDir", dir.toString)
    try {
      val pinned = Resources.pin(df)
      pinned.agg(sum("v")).head.getLong(0) shouldBe (0L until 100L).map(_ * 3).sum
      val dirs = rddDirs(dir)
      withClue(s"expected rdd-* checkpoint payload under $dir: ") {
        dirs should not be empty
      }
      // a second pin reuses the same root (no per-pin re-rooting)
      Resources.pin(df.limit(5)).count() shouldBe 5
      rddDirs(dir).size should be > dirs.size
    } finally spark.conf.unset("spark.graft.checkpointDir")
  }

  test("incremental dedup through the reliable seam returns the same pairs") {
    val st = new TableStore(spark, tempDir("graft-ckpt-store").toString)
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    Dedup.buildSignatureStore(st, Seq(
      1L -> base,
      2L -> "completely unrelated text about distributed query engines and shuffles here")
      .toDF("doc_id", "text"))
    val batch = Seq(
      10L -> base,
      11L -> "fresh content that matches nothing stored anywhere at all")
      .toDF("doc_id", "text")
    def pairs() = Dedup.incrementalLshPairs(spark, st, batch)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val localPairs = pairs()
    val dir = tempDir("graft-ckpt2")
    spark.conf.set("spark.graft.checkpointDir", dir.toString)
    try {
      pairs() shouldBe localPairs
      localPairs shouldBe Set((1L, 10L))
      rddDirs(dir) should not be empty // the pair pin really went reliable
    } finally spark.conf.unset("spark.graft.checkpointDir")
  }
}
