package graft

import org.apache.spark.sql.functions._
import graft.sources.TableStore
import graft.sources.FileStats.ColumnRange

/** Property: for ANY data and ANY ranges, the skipped scan returns exactly
  * the rows a plain filter returns — skipping is an optimization, never a
  * filter. Deterministic seeds; each round draws a dataset with the traps
  * this round's fixes target (NaN/±Inf doubles, nulls, floats in the
  * decimal-print gap, duplicate values across files) and random ranges. */
class SkippingPropertySpec extends SparkSpec {
  import spark.implicits._

  private def checkEquivalence(seed: Int): Unit = {
    val rnd = new scala.util.Random(seed)
    val st = new TableStore(spark, tempDir(s"graft-prop$seed").toString)
    val n = 500 + rnd.nextInt(1500)
    val rows = (0 until n).map { i =>
      val id = rnd.nextInt(1000).toLong
      val x = rnd.nextInt(12) match {
        case 0 => Double.NaN
        case 1 => Double.PositiveInfinity
        case 2 => Double.NegativeInfinity
        case _ => rnd.nextInt(2000) / 16.0 // exact and inexact doubles
      }
      val s = if (rnd.nextInt(10) == 0) null else s"k${rnd.nextInt(300)}%05d"
      (id, x, s)
    }
    val df = rows.toDF("id", "x", "s").repartition(1 + rnd.nextInt(7))
    st.create("t", df)

    def someRange(): ColumnRange = rnd.nextInt(3) match {
      case 0 =>
        val a = rnd.nextInt(1000).toLong; val b = a + rnd.nextInt(200)
        ColumnRange("id", Some(a), Some(b))
      case 1 =>
        val a = rnd.nextInt(2200) / 16.0
        if (rnd.nextBoolean()) ColumnRange("x", Some(a), None)
        else ColumnRange("x", None, Some(a))
      case _ =>
        val a = s"k${rnd.nextInt(300)}%05d"
        ColumnRange("s", Some(a), if (rnd.nextBoolean()) Some(a) else None)
    }

    (1 to 20).foreach { _ =>
      val ranges = (0 until 1 + rnd.nextInt(2)).map(_ => someRange())
      val (scan, rep) = st.scanSkipping("t", ranges)
      val pred = ranges.flatMap { r =>
        r.lo.map(v => col(r.column) >= lit(v)) ++ r.hi.map(v => col(r.column) <= lit(v))
      }.reduceOption(_ && _).getOrElse(lit(true))
      val expected = st.table("t").filter(pred)
      withClue(s"seed=$seed ranges=$ranges report=$rep: ") {
        scan.count() shouldBe expected.count()
        // full multiset equivalence, not just the count
        scan.exceptAll(expected).count() shouldBe 0
        expected.exceptAll(scan).count() shouldBe 0
      }
    }
  }

  test("skipped scan ≡ plain filter on adversarial random data (3 seeds × 20 range draws)") {
    Seq(7, 42, 1337).foreach(checkEquivalence)
  }
}
