package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.Multiply
import org.apache.spark.sql.catalyst.expressions.aggregate.Sum
import org.apache.spark.sql.catalyst.plans.logical.Aggregate
import graft.operators.Similarity

/** Recall invariants of the multi-probe IVF gate query (q89). The corpus
  * is structureless (within/cross-label cosine both ≈ 0), so no fixed
  * recall threshold is meaningful — what must hold for ANY corpus:
  * recall@5 is monotone non-decreasing in nprobe, and probing every
  * cluster (nprobe = K) reproduces the exact baseline, recall ≡ 1.0. */
class SimilaritySpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("q89: recall monotone in nprobe; nprobe=K reproduces the exact top-5") {
    val rows = Similarity.q89.build(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    rows.length shouldBe 30 // 10 queries × 3 probe levels

    val byQuery = rows.groupBy(_._1)
    byQuery.foreach { case (q, rs) =>
      val byNp = rs.sortBy(_._2)
      withClue(s"query $q: ") {
        // monotone: more probed clusters can only add candidates
        byNp.map(_._4).toSeq.sliding(2).foreach {
          case Seq(a, b) => a should be <= b
          case _ => ()
        }
        // probing all 10 clusters IS the exact scan
        byNp.last._2 shouldBe 10
        byNp.last._4 shouldBe 1.0
        byNp.last._3 shouldBe 5L
      }
    }
    // recall5 is always hits/5
    rows.foreach { case (_, _, h, r) => r shouldBe h.toDouble / 5 }
  }

  test("q114: drops exact duplicates within a cluster only, keeps the min id") {
    // 64-dim toy corpus: vecs 0,1,2 identical in label 0 (keep only 0);
    // vec 3 identical to them but in label 1 (cross-cluster: kept);
    // vec 4 orthogonal in label 0 (kept).
    val a = Array.fill(64)(0.1f)
    val b = Array.tabulate(64)(i => if (i % 2 == 0) 0.1f else -0.1f)
    val rows = Seq((0L, a, 0), (1L, a, 0), (2L, a, 0), (3L, a, 1), (4L, b, 0))
    val dir = tempDir("semdedup").toString
    import spark.implicits._
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val kept = Similarity.q114.build(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    kept shouldBe Map(0L -> true, 1L -> false, 2L -> false, 3L -> true, 4L -> true)
  }

  /** Grouping columns of every aggregate in `df`'s optimized plan that
    * sums products (dot products, norms, centroid distances). */
  private def productSumGroupings(df: DataFrame): Seq[Seq[String]] =
    df.queryExecution.optimizedPlan.collect {
      case a: Aggregate if a.aggregateExpressions.exists(_.find {
          case s: Sum => s.child.isInstanceOf[Multiply]
          case _ => false
        }.isDefined) =>
        a.groupingExpressions.flatMap(_.references.map(_.name))
    }

  test("a multiprobe candidate is scored once across nprobe levels") {
    // the dot-product aggregate groups by (query, neighbour) and the
    // neighbour's cluster rank; the levels fan out after it
    val q89 = productSumGroupings(Similarity.q89.build(spark, sf))
    val store = productSumGroupings(Similarity.storeMultiprobeScored(
      Similarity.maintainedIvf(spark, sf), nQ = 10))
    for ((name, groupings) <- Seq("q89" -> q89, "storeMultiprobeScored" -> store)) {
      withClue(s"$name: $groupings ") {
        groupings.foreach(_ should not contain "nprobe")
        groupings.exists(_.contains("crank")) shouldBe true
      }
    }
  }

  test("the retrieval ranking kernels are written once, in their home module") {
    val root = Paths.get("src/main/scala/graft/operators")
    val walk = Files.walk(root)
    val files: List[Path] = try walk.iterator().asScala
      .filter(_.toString.endsWith(".scala")).toList
    finally walk.close()
    files should not be empty
    // (home file, what, literal): the literal may appear in its home only
    val rules = Seq(
      ("Similarity.scala", "cosine top-k tiebreak", "orderBy(col(\"cosine\").desc"),
      ("SearchOps.scala", "RRF constant", "lit(60)"),
      ("SearchOps.scala", "Okapi expression", "lit(1.2) * (lit(0.25)"))
    val hits = files.flatMap { p =>
      val text = new String(Files.readAllBytes(p), "UTF-8")
      def line(at: Int) = text.substring(0, at).count(_ == '\n') + 1
      rules.filterNot { case (home, _, _) => p.equals(root.resolve(home)) }
        .flatMap { case (_, what, lit) =>
          java.util.regex.Pattern.quote(lit).r.findAllMatchIn(text)
            .map(m => s"$p:${line(m.start)}: $what")
        }
    }
    withClue(hits.mkString("\n", "\n", "\n")) { hits shouldBe empty }
  }
}
