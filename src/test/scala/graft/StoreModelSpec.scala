package graft

import org.apache.spark.sql.functions._
import graft.constraints.Constraints._
import graft.sources.TableStore

/** Model-based test of the copy-on-write store: a seeded random sequence
  * of INSERT (on-conflict-do-nothing) / UPSERT / UPDATE / DELETE is
  * mirrored into a plain in-memory map; after every step the published
  * table must equal the model exactly. Catches cross-op interactions
  * (version chains, ledgers, stats sidecars) no single-op spec exercises. */
class StoreModelSpec extends SparkSpec {
  import spark.implicits._

  private def run(seed: Int): Unit = {
    val rnd = new scala.util.Random(seed)
    val st = new TableStore(spark, tempDir(s"graft-model$seed").toString)
    val model = scala.collection.mutable.Map[Long, (String, Double)]()

    def rows(k: Int) = (0 until k).map { _ =>
      (rnd.nextInt(40).toLong, s"s${rnd.nextInt(10)}", rnd.nextInt(100) / 4.0)
    }
    val init = rows(10).groupBy(_._1).map(_._2.head).toSeq // unique PKs
    st.create("t", init.toDF("id", "s", "x"), Seq(PrimaryKey(Seq("id"))))
    init.foreach { case (id, s, x) => model(id) = (s, x) }

    def check(step: String): Unit = {
      val actual = st.table("t").collect()
        .map(r => r.getLong(0) -> (r.getString(1), r.getDouble(2))).toMap
      withClue(s"seed=$seed after $step: ") { actual shouldBe model.toMap }
    }

    (1 to 25).foreach { i =>
      rnd.nextInt(5) match {
        case 0 => // INSERT … ON CONFLICT DO NOTHING (keep-first)
          val batch = rows(3).groupBy(_._1).map(_._2.head).toSeq
          st.insert("t", batch.toDF("id", "s", "x"), onConflictDoNothing = true)
          batch.foreach { case (id, s, x) =>
            if (!model.contains(id)) model(id) = (s, x)
          }
          check(s"$i insert")
        case 1 => // UPSERT (merge by PK)
          val batch = rows(3).groupBy(_._1).map(_._2.head).toSeq
          st.upsert("t", batch.toDF("id", "s", "x"))
          batch.foreach { case (id, s, x) => model(id) = (s, x) }
          check(s"$i upsert")
        case 2 => // UPDATE … WHERE
          val lo = rnd.nextInt(40).toLong
          val nx = rnd.nextInt(100) / 4.0
          st.update("t", col("id") >= lo && col("id") < lo + 5, Map("x" -> lit(nx)))
          model.keys.filter(id => id >= lo && id < lo + 5)
            .foreach(id => model(id) = (model(id)._1, nx))
          check(s"$i update")
        case 3 => // DELETE … WHERE
          val victim = rnd.nextInt(40).toLong
          st.delete("t", col("id") === victim)
          model.remove(victim)
          check(s"$i delete")
        case _ => // 3-clause MERGE: delete s0-marked matches, update rest, insert new
          val batch = rows(4).groupBy(_._1).map(_._2.head).toSeq
          st.mergeInto("t", batch.toDF("id", "s", "x"), Seq("id"),
            matchedUpdate = Map("s" -> TableStore.src("s"), "x" -> TableStore.src("x")),
            matchedDelete = Some(TableStore.src("s") === "s0"))
          batch.foreach { case (id, s, x) =>
            if (model.contains(id)) {
              if (s == "s0") model.remove(id) else model(id) = (s, x)
            } else model(id) = (s, x)
          }
          check(s"$i merge")
      }
    }
    st.analyze("t") // vacuum must not change contents
    check("final vacuum")
  }

  test("random DML sequences match the in-memory model exactly (2 seeds × 25 ops)") {
    Seq(11, 97).foreach(run)
  }
}
