package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import graft.constraints.Constraints._
import graft.sources.TableStore

/** Model-based test of schema evolution interleaved with DML: a seeded
  * random sequence of ADD/DROP/RENAME COLUMN, UPDATE, UPSERT, and vacuum
  * is mirrored into an in-memory map-of-maps; after every step the
  * published table must equal the model exactly. This is the regression
  * net for the version-stamped delta replay — it exercises add→drop→
  * re-add, rename→materialize, defaults over mixed-age file dirs, and
  * vacuum across metadata-only versions in combinations no hand-written
  * spec enumerates. */
class SchemaEvolveModelSpec extends SparkSpec {
  import spark.implicits._

  private def run(seed: Int): Unit = {
    val rnd = new scala.util.Random(seed)
    val st = new TableStore(spark, tempDir(s"graft-evmodel$seed").toString)
    var cols = Vector("c0") // non-PK columns, all BIGINT
    var nextCol = 1
    val model = scala.collection.mutable.Map[Long, scala.collection.mutable.Map[String, Long]]()

    val init = (0L until 8L).map(id => id -> rnd.nextInt(50).toLong)
    st.create("t", init.toDF("id", "c0"), Seq(PrimaryKey(Seq("id"))))
    init.foreach { case (id, v) =>
      model(id) = scala.collection.mutable.Map("c0" -> v)
    }

    def batchDf(rows: Seq[(Long, Seq[Long])]): DataFrame = {
      import scala.jdk.CollectionConverters._
      val schema = StructType(StructField("id", LongType, nullable = false) +:
        cols.map(c => StructField(c, LongType, nullable = false)))
      spark.createDataFrame(
        rows.map { case (id, vs) => Row.fromSeq(id +: vs) }.asJava, schema)
    }

    def check(step: String): Unit = {
      val actual = st.table("t").select(("id" +: cols).map(col): _*).collect()
        .map(r => r.getLong(0) -> cols.indices.map(i => r.getLong(i + 1)).toVector)
        .toMap
      val expect = model.map { case (id, m) => id -> cols.map(m).toVector }.toMap
      withClue(s"seed=$seed after $step (cols=$cols): ") { actual shouldBe expect }
    }

    (1 to 24).foreach { i =>
      rnd.nextInt(6) match {
        case 0 => // ADD COLUMN, constant default (metadata-only)
          val c = s"c$nextCol"; nextCol += 1
          val d = rnd.nextInt(100).toLong
          st.addColumn("t", c, "BIGINT", d.toString)
          cols :+= c
          model.values.foreach(_(c) = d)
          check(s"$i add $c=$d")
        case 1 if cols.size > 1 => // DROP a random non-PK column
          val c = cols(rnd.nextInt(cols.size))
          st.dropColumn("t", c)
          cols = cols.filterNot(_ == c)
          model.values.foreach(_.remove(c))
          check(s"$i drop $c")
        case 2 => // RENAME a random non-PK column to a fresh name
          val idx = rnd.nextInt(cols.size)
          val from = cols(idx); val to = s"c$nextCol"; nextCol += 1
          st.renameColumn("t", from, to)
          cols = cols.updated(idx, to)
          model.values.foreach { m => m(to) = m.remove(from).get }
          check(s"$i rename $from->$to")
        case 3 => // UPDATE … WHERE (physically materializes pending deltas)
          val c = cols(rnd.nextInt(cols.size))
          val lo = rnd.nextInt(8).toLong
          val v = rnd.nextInt(100).toLong
          st.update("t", col("id") >= lo && col("id") < lo + 3, Map(c -> lit(v)))
          model.keys.filter(id => id >= lo && id < lo + 3)
            .foreach(id => model(id)(c) = v)
          check(s"$i update $c=$v")
        case 4 => // UPSERT carrying the full current schema
          val batch = (0 until 3).map { _ =>
            rnd.nextInt(12).toLong -> cols.map(_ => rnd.nextInt(100).toLong)
          }.groupBy(_._1).map(_._2.head).toSeq
          st.upsert("t", batchDf(batch))
          batch.foreach { case (id, vs) =>
            model(id) = scala.collection.mutable.Map(cols.zip(vs): _*)
          }
          check(s"$i upsert")
        case _ => // vacuum must never change visible contents
          st.analyze("t")
          check(s"$i vacuum")
      }
    }
  }

  test("random evolve+DML sequences match the model exactly (2 seeds × 24 ops)") {
    Seq(7, 23).foreach(run)
  }
}
