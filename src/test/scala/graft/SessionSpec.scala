package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** One session factory: the native functions are injected once by
  * [[graft.core.GraftSession]] and reach every session derived from it,
  * and no other file may configure a session or register functions. */
class SessionSpec extends SparkSpec {

  /** Call all five injected functions in `s`; no registration step. */
  private def nativeRow(s: SparkSession): Row = {
    val sketch = s.range(10).agg(expr("bloom_agg(xxhash64(id), 10L)"))
      .head.getAs[Array[Byte]](0)
    s.range(1).select(
      expr("uuid5('ns', 'k')"),
      expr("dot_f64(array(CAST(1 AS FLOAT), CAST(2 AS FLOAT)), " +
        "array(CAST(3 AS FLOAT), CAST(4 AS FLOAT)))"),
      expr("stop_hits(array('the', 'fox', 'the'), array('the'))"),
      call_function("bloom_might_contain", lit(sketch), xxhash64(lit(3L)))).head()
  }

  test("native functions resolve in the shared session, newSession() and the replay-width clone") {
    val base = nativeRow(spark)
    base.getString(0) should have length 36
    base.getDouble(1) shouldBe 11.0
    base.getInt(2) shouldBe 2
    base.getBoolean(3) shouldBe true
    nativeRow(spark.newSession()) shouldBe base
    operators.EventsOps.withReplayWidth(spark)(nativeRow) shouldBe base
  }

  /** The two settings that keep a cold batch JVM inside its starting
    * heap (see GraftSession): the case-mapping switch as `s` sees it, and
    * the broadcast chunk size of its context, in bytes. */
  private def coldSettings(s: SparkSession): (String, Long) =
    (s.conf.get("spark.sql.icu.caseMappings.enabled"),
      s.sparkContext.getConf.getSizeAsBytes("spark.broadcast.blockSize"))

  test("no ICU case table and a 256 KB broadcast chunk in the shared session, newSession() and the replay-width clone") {
    coldSettings(spark) shouldBe (("false", 256L * 1024))
    coldSettings(spark.newSession()) shouldBe coldSettings(spark)
    operators.EventsOps.withReplayWidth(spark)(coldSettings) shouldBe coldSettings(spark)
  }

  test("the broadcast chunk is below G1's humongous threshold in this JVM") {
    val hs = java.lang.management.ManagementFactory
      .getPlatformMXBean(classOf[com.sun.management.HotSpotDiagnosticMXBean])
    val block = coldSettings(spark)._2
    // a chunk of at least half a region is allocated as a humongous object;
    // other collectors have no such threshold
    if (hs.getVMOption("UseG1GC").getValue == "true")
      block should be < hs.getVMOption("G1HeapRegionSize").getValue.toLong / 2
  }

  test("lower/upper results are pinned: ASCII, padded upper-case UUIDs and non-ASCII strings") {
    import spark.implicits._
    // (input, lower, upper) under the JVM case mapping of a root/English
    // default locale; a Turkish or Azeri default locale changes the last two rows
    // (ASCII strings take a locale-free path)
    val cases = Seq(
      ("Hello, World 42", "hello, world 42", "HELLO, WORLD 42"),
      ("  0F8FAD5B-D9CB-469F-A165-70867728950E ", "  0f8fad5b-d9cb-469f-a165-70867728950e ",
        "  0F8FAD5B-D9CB-469F-A165-70867728950E "),
      ("Straße", "straße", "STRASSE"),
      ("ΟΔΟΣ", "οδος", "ΟΔΟΣ"),
      ("İstanbul", "i\u0307stanbul", "İSTANBUL"),
      ("Iı", "iı", "II"))
    // repartition keeps the projection out of the optimizer's local fold,
    // so it runs as generated code in a task, as the ETL's does
    val got = cases.map(_._1).zipWithIndex.toDF("s", "i").repartition(1)
      .select($"i", lower($"s"), upper($"s")).as[(Int, String, String)].collect()
      .sortBy(_._1).map { case (_, l, u) => (l, u) }.toSeq
    got shouldBe cases.map { case (_, l, u) => (l, u) }
  }

  test("only GraftSession builds sessions or registers functions") {
    // the needles are split so this file does not match itself
    val needles = Seq("SparkSession" + ".builder(", "createOrReplace" + "TempFunction")
    val allowed = Paths.get("src/main/scala/graft/core/GraftSession.scala")
    val walk = Files.walk(Paths.get("src"))
    val files = try walk.iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && !p.equals(allowed)).toList
    finally walk.close()
    files should not be empty
    val hits = for {
      p <- files
      text = new String(Files.readAllBytes(p), "UTF-8")
      needle <- needles if text.contains(needle)
    } yield s"$p: $needle"
    hits shouldBe empty
  }
}
