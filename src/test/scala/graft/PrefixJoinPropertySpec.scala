package graft

import org.apache.spark.sql.functions._
import graft.functions.TextFunctions._
import graft.operators.Dedup

/** Property test for the prefix-filtered exact similarity join (q112):
  * on randomized corpora engineered to contain near-dup clusters, shared
  * rare shingles, exact copies, and sub-shingle-length docs, the
  * prefix-filter pipeline must return EXACTLY the brute-force Jaccard ≥
  * 0.8 pairs — losslessness of the prefix/size/positional prunes is the
  * whole point of the algorithm, and the integer prefix-length math is
  * where an off-by-one silently drops pairs.
  */
class PrefixJoinPropertySpec extends SparkSpec {
  import spark.implicits._

  private val vocab = Vector("alpha", "beta", "gamma", "delta", "epsilon",
    "zeta", "eta", "theta", "iota", "kappa", "lambda", "mu")

  private def corpus(seed: Int): Seq[(Long, String)] = {
    val rnd = new scala.util.Random(seed)
    val base = (0 until 12).map { i =>
      val n = 8 + rnd.nextInt(12)
      i.toLong -> Vector.fill(n)(vocab(rnd.nextInt(vocab.size)))
    }
    val mutants = base.take(6).zipWithIndex.map { case ((_, toks), k) =>
      val t = rnd.nextInt(3) match {
        case 0 => toks.updated(toks.size - 1, vocab(rnd.nextInt(vocab.size))) // last-token swap
        case 1 => toks :+ vocab(rnd.nextInt(vocab.size))                      // append
        case _ => toks                                                        // exact copy
      }
      (100L + k) -> t
    }
    val tiny = Seq(200L -> Vector("alpha"), 201L -> Vector("beta", "gamma"))
    (base ++ mutants ++ tiny).map { case (id, toks) => (id, toks.mkString(" ")) }
  }

  private def bruteForce(dir: String) = {
    val sh = graft.core.Tables.documents(spark, dir)
      .withColumn("t", tokens(col("text")))
      .withColumn("s", explode(shingles3("t")))
      .select("doc_id", "s").distinct()
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    sh.toDF("doc_a", "s")
      .join(sh.toDF("doc_b", "s2"), col("s") === col("s2") && col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("i"))
      .join(sizes.select(col("doc_id").as("doc_a"), col("n").as("na")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("n").as("nb")), "doc_b")
      .withColumn("jaccard",
        col("i").cast("double") / (col("na") + col("nb") - col("i")).cast("double"))
      .filter(col("jaccard") >= 0.8)
      .select("doc_a", "doc_b", "jaccard")
  }

  test("prefix-filter join ≡ brute force on randomized near-dup corpora (4 seeds)") {
    for (seed <- Seq(1, 2, 3, 4)) {
      val dir = tempDir(s"graft-ppjoin$seed").toString
      corpus(seed).map { case (id, text) =>
        (id, text, "en", "src0", text.length.toLong)
      }.toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      def key(r: org.apache.spark.sql.Row) =
        (r.getLong(0), r.getLong(1), r.getDouble(2))
      val want = bruteForce(dir).collect().map(key).toSet
      val got = Dedup.q112.build(spark, dir).collect().map(key).toSet
      withClue(s"seed=$seed: ") {
        got shouldBe want
        // the generator must actually produce near-dup structure,
        // otherwise the property is vacuous
        want should not be empty
      }
    }
  }
}
