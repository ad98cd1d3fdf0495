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
