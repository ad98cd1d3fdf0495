package graft.operators

import org.apache.spark.sql.functions._
import graft.core.{QueryDef, Tables}
import graft.functions.TextFunctions._
import graft.obs.Trace

/** Inverted-index operators: build token→postings lists and answer
  * conjunctive (AND) term queries by posting intersection — the index
  * side of a corpus search/decontamination workflow.
  *
  * Scale posture: the index build is ONE shuffle of distinct
  * (token, doc_id) pairs; postings aggregate per token with map-side
  * partials. At 100 TB the index lands in the table store clustered by
  * token (`TableStore.createClustered`), so a query-time lookup
  * data-skips to the probed tokens' files instead of re-scanning the
  * corpus — here the gate builds it inline and proves the LOOKUP result
  * equals a direct corpus scan (the oracle never touches the index).
  */
object SearchOps {

  /** Posting-list length ceiling: a stop-word token's posting list is
    * corpus-sized, and `collect_set` grows its aggregation buffer with
    * every element DURING the aggregate — a post-hoc filter can't undo
    * that memory. The index therefore counts document frequency FIRST
    * (a cheap count aggregate), drops tokens outside [minDf, maxDf], and
    * only then collects postings — every surviving buffer is ≤ maxDf
    * elements by construction. Far above any test corpus's df; binding
    * exactly where it matters at 100 TB (stop words, boilerplate). */
  val MaxPostings = 100000L

  /** q98: the inverted index itself — document frequency + the sorted
    * posting list per token, for every token appearing in ≥20 documents
    * (and ≤ [[MaxPostings]] — see above). Postings serialize as a
    * comma-joined string (long→decimal renders identically in Spark and
    * DuckDB, so the gate hash-compares the lists bit-for-bit).
    *
    * One data shuffle: the df filter join and the postings aggregate both
    * key on `w`, so the join's hash partitioning is reused by the final
    * groupBy without a second exchange. */
  val q98 = QueryDef(
    "q98_inverted_index",
    s"""WITH tok AS (
      |  SELECT DISTINCT doc_id, unnest(string_split(trim(text), ' ')) AS w
      |  FROM documents),
      |df AS (
      |  SELECT w FROM tok GROUP BY 1
      |  HAVING COUNT(*) >= 20 AND COUNT(*) <= $MaxPostings)
      |SELECT t.w, COUNT(*) AS doc_freq,
      |  array_to_string(list_sort(list(t.doc_id)), ',') AS postings
      |FROM tok t JOIN df ON df.w = t.w
      |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
    val pairs = Tables.documents(s, d)
      .select(col("doc_id"), explode(tokens(col("text"))).as("w"))
      .distinct()
    val keep = pairs.groupBy("w").agg(count(lit(1)).as("__df"))
      .filter(col("__df") >= 20 && col("__df") <= MaxPostings)
      .select("w")
    pairs.join(keep, "w")
      .groupBy("w")
      .agg(count(lit(1)).as("doc_freq"),
        concat_ws(",", sort_array(collect_set(col("doc_id")))).as("postings"))
      .orderBy("w")
  }

  /** The AND-query: documents containing every term, answered from the
    * (token, doc_id) posting pairs — touch only the probed terms'
    * postings, intersect by counting distinct matched terms per doc. */
  def conjunctiveSearch(s: org.apache.spark.sql.SparkSession, dir: String,
                        terms: Seq[String]): org.apache.spark.sql.DataFrame = {
    require(terms.nonEmpty, "conjunctive search needs at least one term")
    val ts = terms.distinct // a repeated term must not inflate the hit target
    Tables.documents(s, dir)
      .select(col("doc_id"), explode(tokens(col("text"))).as("w"))
      .filter(col("w").isin(ts: _*))
      .groupBy("doc_id")
      .agg(countDistinct(col("w")).as("n_hit"))
      .filter(col("n_hit") === ts.length)
      .select("doc_id")
      .orderBy("doc_id")
  }

  /** q99: conjunctive search via the index vs. a direct corpus scan (the
    * oracle) — same result, but the index path reads two posting lists
    * where the scan reads every document. */
  /** The conjunctive-query oracle (a direct corpus scan that never
    * touches any index) — shared verbatim by q99 (inline index) and
    * q207 (the maintained store's serving path). */
  private val conjunctiveOracleSql: String =
    """SELECT doc_id FROM documents
      |WHERE list_contains(string_split(trim(text), ' '), 'dup')
      |  AND list_contains(string_split(trim(text), ' '), 'window')
      |ORDER BY doc_id""".stripMargin

  val q99 = QueryDef(
    "q99_conjunctive_search",
    conjunctiveOracleSql) { (s, d) =>
    conjunctiveSearch(s, d, Seq("dup", "window"))
  }

  /** q101: BM25 ranked retrieval — the scoring side of the q98/q99 index.
    * Classic Okapi shape, k1 = 1.2, b = 0.75, with the log-free idf
    * variant idf(t) = (N - df + 0.5)/(df + 0.5): every factor is IEEE
    * +,-,×,÷ on doubles, so Spark and DuckDB produce bit-identical scores
    * when the expression trees associate identically (they are written as
    * literal mirrors below). `ln` is deliberately avoided — libm vs JDK
    * log can differ in the last ulp and would flake the hash gate.
    *
    * The per-doc score sums ONE double per query term; the gate query uses
    * two terms, and a+b is IEEE-commutative, so Spark's unordered partial
    * aggregation cannot change the bits. (3+ terms would make the sum
    * order-sensitive — a production caller gets ranked results either way,
    * but the cross-engine gate pins exactly this 2-term form.)
    *
    * Scale posture: df (one row per query term) and the corpus stats (one
    * row) broadcast; the only shuffle joins the per-term postings (docs
    * containing a query term) against doc lengths on doc_id. At 100 TB
    * the dl table is the stored index's doc-length sidecar, not a rescan. */
  def bm25(s: org.apache.spark.sql.SparkSession, dir: String,
           terms: Seq[String], k: Int): org.apache.spark.sql.DataFrame = {
    val toks = Tables.documents(s, dir)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
    val dl = toks.select(col("doc_id"), size(col("toks")).as("dl"))
    val tf = toks.select(col("doc_id"), explode(col("toks")).as("w"))
      .filter(col("w").isin(terms: _*))
      .groupBy("doc_id", "w").agg(count(lit(1)).cast("double").as("tf"))
    okapiTop(tf, dl, lengthStats(dl), Seq("doc_id"), k)
  }

  /** THE log-free Okapi score every BM25 path sums (k1 = 1.2, b = 0.75,
    * idf = (N - df + 0.5)/(df + 0.5); see [[bm25]] for the parity
    * argument) — one literal expression tree, so each path stays
    * bit-identical to its oracle mirror. `tf` is (w, tf, …) posting rows,
    * df counts them per term, `dl` joins on the columns it shares with
    * `tf` and carries `dl`, `stats` is one (avgdl, n) row. `queryTerms`
    * (query_id, w), when given, fans each posting row out to the queries
    * probing its term (df stays global). Returns (keys…, score). */
  private def okapi(tf: org.apache.spark.sql.DataFrame,
      dl: org.apache.spark.sql.DataFrame, stats: org.apache.spark.sql.DataFrame,
      keys: Seq[String], queryTerms: Option[org.apache.spark.sql.DataFrame] = None)
      : org.apache.spark.sql.DataFrame = {
    val dfreq = tf.groupBy("w").agg(count(lit(1)).cast("double").as("df"))
    queryTerms.fold(tf)(tm => tf.join(broadcast(tm), Seq("w")))
      .crossJoin(broadcast(stats))
      .join(broadcast(dfreq), Seq("w"))
      .join(dl, dl.columns.filter(tf.columns.contains).toSeq)
      .select(keys.map(col) :+
        (((col("n") - col("df") + 0.5) / (col("df") + 0.5)) *
          ((col("tf") * 2.2) /
            (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * (col("dl").cast("double") / col("avgdl"))))))
          .as("s"): _*)
      .groupBy(keys.map(col): _*).agg(sum(col("s")).as("score"))
  }

  /** The best `k` [[okapi]] scores, fully tiebroken by `keys`. */
  private def okapiTop(tf: org.apache.spark.sql.DataFrame,
      dl: org.apache.spark.sql.DataFrame, stats: org.apache.spark.sql.DataFrame,
      keys: Seq[String], k: Int): org.apache.spark.sql.DataFrame =
    okapi(tf, dl, stats, keys).orderBy(col("score").desc +: keys.map(col): _*).limit(k)

  /** One (avgdl, n) row over a frame of document (or chunk) lengths. */
  private def lengthStats(dl: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    dl.agg(
      (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl"),
      count(lit(1)).cast("double").as("n"))

  /** The (avgdl, n) row recomposed from an index table's kind-2
    * per-epoch partials: exact integer sums of `sum_dl` and `units`
    * (n_docs or n_chunks). */
  private def partialStats(idx: org.apache.spark.sql.DataFrame, units: String)
      : org.apache.spark.sql.DataFrame =
    idx.filter(col("kind") === 2)
      .agg((sum(col("sum_dl")).cast("double") /
        sum(col(units)).cast("double")).as("avgdl"),
        sum(col(units)).cast("double").as("n"))

  /** The 2-term BM25 oracle (monolithic corpus recomputation) — shared
    * verbatim by q101 (inline) and q206 (served from the maintained
    * index store). */
  private val bm25OracleSql: String =
    """WITH dl AS (
      |  SELECT doc_id, len(string_split(trim(text), ' ')) AS dl FROM documents),
      |stats AS (
      |  SELECT CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl,
      |         CAST(COUNT(*) AS DOUBLE) AS n FROM dl),
      |tf AS (
      |  SELECT doc_id, w, CAST(COUNT(*) AS DOUBLE) AS tf
      |  FROM (SELECT doc_id, unnest(string_split(trim(text), ' ')) AS w FROM documents)
      |  WHERE w IN ('dup', 'window') GROUP BY 1, 2),
      |df AS (SELECT w, CAST(COUNT(*) AS DOUBLE) AS df FROM tf GROUP BY 1)
      |SELECT tf.doc_id AS doc_id,
      |  SUM(((stats.n - df.df + 0.5) / (df.df + 0.5)) *
      |      ((tf.tf * 2.2) /
      |       (tf.tf + 1.2 * (0.25 + 0.75 * (CAST(dl.dl AS DOUBLE) / stats.avgdl))))) AS score
      |FROM tf CROSS JOIN stats
      |JOIN df ON df.w = tf.w
      |JOIN dl ON dl.doc_id = tf.doc_id
      |GROUP BY 1 ORDER BY 2 DESC, 1 LIMIT 20""".stripMargin

  val q101 = QueryDef(
    "q101_bm25_rank",
    bm25OracleSql) { (s, d) =>
    bm25(s, d, Seq("dup", "window"), 20)
  }

  /** Sparse tf-idf cosine similarity through the inverted index — the
    * sparse-vector sibling of the dense ANN family (q50/q115): documents
    * become tf-idf weight vectors over the vocabulary, and the dot
    * product of two documents is computed by joining their POSTINGS on
    * the token — only docs sharing a token ever pair, which is what makes
    * sparse similarity tractable when dense all-pairs is not. Top-3 most
    * similar docs for each of 20 query docs.
    *
    * Parity: idf is (N+1)/(df+1) with NO logarithm (libm log differs in
    * the last ulp across engines — same reason q101's BM25 is log-free);
    * each weight is ONE double multiply-divide chain floored into int64
    * milli-units, and every dot product/norm is then an exact decimal
    * integer sum — distributed aggregation order cannot perturb bits.
    *
    * Scale posture: the df join is a plain shuffle equi-join on the token
    * — df has one row per DISTINCT TOKEN in the corpus (billions on web
    * text), so it must NEVER carry a broadcast hint (AQE still broadcasts
    * it when genuinely small); only the 1-row N frame broadcasts. The
    * postings self-join is query-side-broadcast on the token; per-pair
    * accumulation is a codegen'd partial+final sum. A web-scale corpus
    * additionally caps df (drop stop-shaped tokens) — the lossless
    * version of that bound is q112's prefix filter; here the full join
    * stays exact. */
  /** Fixed-point tf-idf weights (doc_id, tok, wi decimal(18,0)) — shared
    * by q119 and the RRF fusion (q125). See q119's parity notes. */
  private def tfidfWeights(s: org.apache.spark.sql.SparkSession,
                           d: String): org.apache.spark.sql.DataFrame = {
    val tf = Tables.documents(s, d)
      .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("tok").agg(count(lit(1)).as("df"))
    val n1 = tf.agg(countDistinct(col("doc_id")).as("n"))
    // no broadcast hint on dfreq: one row per distinct corpus token —
    // corpus-cardinality, same no-broadcast contract as Dedup's `sizes`
    tf.join(dfreq, Seq("tok")).crossJoin(broadcast(n1))
      .select(col("doc_id"), col("tok"),
        floor(lit(1000.0) * col("tf") * (col("n") + 1) / (col("df") + 1))
          .cast("long").cast("decimal(18,0)").as("wi"))
  }

  /** Cosine of tf-idf vectors between query docs (`queryPred` on doc_id)
    * and every other doc, top-`k` per query — the postings "join"
    * restructured as a WIDE dot-product aggregation.
    *
    * An r6 attempt at WAND/threshold-style rank-safe pruning was probed
    * and REVERTED: on this corpus every token is stop-shaped (min query
    * df ≈ 6% of the corpus, τ ≈ 0.87 with light-mass ≈ 1), so candidate
    * pruning buys ≤ 1.8× while its extra passes cost more. The measured
    * 100× bottleneck was never arithmetic — it is the postings⋈queries
    * row explosion (Σ_t qcount(t)·df(t) ≈ 16× the postings) hash-merged
    * into |queries|·N groups. Restructured, both factors drop out:
    *
    *  - the query matrix pivots into a |vocab| × |queries| BROADCAST
    *    table (query postings are bounded by construction; on web-scale
    *    vocab the pivot stays bounded because only tokens the 20 query
    *    docs CONTAIN appear — ≤ Σ|q| rows, not corpus vocab);
    *  - each corpus posting then updates |queries| LONG accumulators in
    *    ONE doc_id-keyed group — input stays |postings| rows, the
    *    partial hash map is docs-per-partition entries (cache-resident),
    *    and the dot sums are codegen'd long arithmetic (ANSI: overflow
    *    fails loudly; headroom is ~10¹²·tf² here and scale-free since
    *    idf = (N+1)/(df+1) is replication-invariant);
    *  - `stack` unpivots the |N| × |queries| dot matrix and `dt > 0`
    *    restores the oracle's exact pair set: weights are strictly
    *    positive integers, so dt > 0 ⟺ the pair shares ≥ 1 token;
    *  - top-k per query runs through the bounded
    *    [[graft.functions.TopKAggregator]] — k rows per partition×query
    *    shuffle instead of a window sorting every scored pair.
    *
    * Every dot product is the same exact integer the oracle's decimal
    * sum yields, and the one double division per pair is unchanged —
    * gate hashes are bit-identical. */
  private def sparseCosine(s: org.apache.spark.sql.SparkSession, d: String,
                           queryPred: org.apache.spark.sql.Column, k: Int)
      : org.apache.spark.sql.DataFrame =
    sparseCosineFrom(Tables.documents(s, d).select("doc_id"),
      tfidfWeights(s, d), queryPred, k)

  /** [[sparseCosine]]'s engine over EXPLICIT inputs — `allDocs` (one
    * doc_id per corpus document; the query-id source) and `wd` (the
    * fixed-point weight frame) — so the corpus path (q119/q125) and the
    * maintained-index path (q211/q212) share one scoring kernel and can
    * never drift. */
  private def sparseCosineFrom(allDocs: org.apache.spark.sql.DataFrame,
                               wd: org.apache.spark.sql.DataFrame,
                               queryPred: org.apache.spark.sql.Column, k: Int)
      : org.apache.spark.sql.DataFrame = {
    import graft.functions.TopKAggregator._
    // query ids from the id frame alone: no tokenization, no shuffle
    val qids = allDocs.filter(queryPred)
      .select("doc_id").collect().map(_.getLong(0)).sorted
    require(qids.nonEmpty, "sparseCosine: queryPred selected no documents")
    val nrm = wd.groupBy("doc_id")
      .agg(sum(col("wi").cast("long") * col("wi").cast("long")).as("nr"))
    // |vocab ∩ query tokens| × |queries| weight matrix — broadcast-bounded
    val qtab = wd.filter(queryPred)
      .select(col("doc_id").as("query_id"), col("tok"), col("wi").cast("long").as("qi"))
      .groupBy("tok").pivot("query_id", qids.map(Long.box).toSeq)
      .agg(first(col("qi")))
    val dotCols = qids.map(q =>
      sum(col("wi").cast("long") * coalesce(col(s"$q"), lit(0L))).as(s"dt_$q"))
    val wide = wd.join(broadcast(qtab), Seq("tok"))
      .groupBy("doc_id")
      .agg(dotCols.head, dotCols.tail: _*)
    // attach doc norms while the frame is still one row per DOC (the
    // corpus-side shuffle join touches |N| rows, not |N|·|queries|);
    // both sides hash-partition on doc_id from sibling aggregations, so
    // the exchange is reused rather than re-shuffled. The per-document
    // nrm table is corpus-cardinality and must never carry a broadcast
    // hint; only query-side frames (bounded via queryPred) broadcast.
    val stacked = wide.join(nrm, Seq("doc_id"))
      .select(col("doc_id") :: col("nr") :: expr(
        s"stack(${qids.length}, " +
          qids.map(q => s"${q}L, dt_$q").mkString(", ") +
          ") as (query_id, dt)") :: Nil: _*)
      // dt > 0 ⟺ the pair shares a token (exact oracle pair set)
      .filter(col("dt") > 0 && col("doc_id") =!= col("query_id"))
    val topk = udaf(TopK(k))
    stacked
      .join(broadcast(nrm.filter(queryPred)
        .select(col("doc_id").as("query_id"), col("nr").as("qn"))),
        Seq("query_id"))
      .select(col("query_id"), col("doc_id"),
        (col("dt").cast("double") /
          (sqrt(col("qn").cast("double")) * sqrt(col("nr").cast("double")))).as("cosine"))
      .groupBy("query_id")
      .agg(topk(col("doc_id"), col("cosine")).as("top"))
      .select(col("query_id"), explode(col("top")).as("sc"))
      .select(col("query_id"), col("sc.id").as("doc_id"),
        col("sc.score").as("cosine"))
  }

  /** The 20-query tf-idf cosine oracle (monolithic corpus
    * recomputation) — shared verbatim by q119 (inline) and q211 (served
    * from the maintained index store). */
  private val tfidfOracleSql: String =
    """WITH toks AS (
      |  SELECT doc_id, unnest(string_split(trim(text), ' ')) AS tok FROM documents),
      |tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
      |df AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY 1),
      |n AS (SELECT COUNT(DISTINCT doc_id) AS n FROM tf),
      |w AS (SELECT doc_id, tok,
      |        CAST(floor(1000.0 * tf * (n.n + 1) / (df.df + 1)) AS BIGINT) AS wi
      |      FROM tf JOIN df USING (tok) CROSS JOIN n),
      |nrm AS (SELECT doc_id,
      |          SUM(CAST(wi AS DECIMAL(18,0)) * CAST(wi AS DECIMAL(18,0))) AS nr
      |        FROM w GROUP BY 1),
      |dots AS (SELECT a.doc_id AS query_id, b.doc_id AS doc_id,
      |           SUM(CAST(a.wi AS DECIMAL(18,0)) * CAST(b.wi AS DECIMAL(18,0))) AS dt
      |         FROM w a JOIN w b ON b.tok = a.tok AND b.doc_id <> a.doc_id
      |         WHERE a.doc_id < 20 GROUP BY 1, 2),
      |cosp AS (SELECT dots.query_id AS query_id, dots.doc_id AS doc_id,
      |           CAST(dt AS DOUBLE) /
      |             (sqrt(CAST(x.nr AS DOUBLE)) * sqrt(CAST(y.nr AS DOUBLE))) AS cosine
      |         FROM dots JOIN nrm x ON x.doc_id = dots.query_id
      |                   JOIN nrm y ON y.doc_id = dots.doc_id)
      |SELECT query_id, doc_id, cosine, CAST(rk AS INT) AS rk FROM (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
      |            ORDER BY cosine DESC, doc_id) AS rk FROM cosp)
      |WHERE rk <= 3 ORDER BY query_id, rk""".stripMargin

  val q119 = QueryDef(
    "q119_tfidf_cosine_topk",
    tfidfOracleSql) { (s, d) =>
    // the rank window sorts an already k-bounded per-query frame
    Similarity.topK(sparseCosine(s, d, col("doc_id") < 20, k = 3),
      Seq("query_id"), "cosine", "doc_id", 3).orderBy("query_id", "rk")
  }

  /** Reciprocal-rank fusion of a sparse (BM25) and a dense-style (tf-idf
    * cosine) ranking — the hybrid-search combiner (Cormack et al. 2009)
    * every retrieval stack runs when it has both a lexical index and an
    * embedding index: fused(d) = Σᵢ 1/(60 + rankᵢ(d)) over the rankings
    * that contain d, top-10 by fused score. Neither score is compared
    * across systems — only RANKS are, which is the point of RRF.
    *
    * Parity: both input rankings are already bit-exact cross-engine (q101,
    * q119); ranks are ints, and the fused score is the same two-term
    * reciprocal sum on both engines. Scale: two top-50 rankings (tiny)
    * full-outer joined on doc_id — the fusion itself is free; the cost is
    * the two retrievals, each already scale-shaped. */
  /** The RRF-hybrid oracle (monolithic corpus recomputation of both
    * rankings + the fusion) — shared verbatim by q125 (inline) and q212
    * (both rankings served from the maintained index store). */
  private val rrfOracleSql: String =
    s"""WITH dl AS (
       |  SELECT doc_id, len(string_split(trim(text), ' ')) AS dl FROM documents),
       |stats AS (
       |  SELECT CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl,
       |         CAST(COUNT(*) AS DOUBLE) AS n FROM dl),
       |tfq AS (
       |  SELECT doc_id, w, CAST(COUNT(*) AS DOUBLE) AS tf
       |  FROM (SELECT doc_id, unnest(string_split(trim(text), ' ')) AS w FROM documents)
       |  WHERE w IN ('dup', 'window') GROUP BY 1, 2),
       |dfq AS (SELECT w, CAST(COUNT(*) AS DOUBLE) AS df FROM tfq GROUP BY 1),
       |bm AS (
       |  SELECT tfq.doc_id,
       |    SUM(((stats.n - dfq.df + 0.5) / (dfq.df + 0.5)) *
       |        ((tfq.tf * 2.2) /
       |         (tfq.tf + 1.2 * (0.25 + 0.75 * (CAST(dl.dl AS DOUBLE) / stats.avgdl))))) AS score
       |  FROM tfq CROSS JOIN stats
       |  JOIN dfq ON dfq.w = tfq.w JOIN dl ON dl.doc_id = tfq.doc_id
       |  GROUP BY 1),
       |bmr AS (SELECT doc_id, rk FROM (
       |  SELECT doc_id, ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS rk FROM bm)
       |  WHERE rk <= 50),
       |toks AS (
       |  SELECT doc_id, unnest(string_split(trim(text), ' ')) AS tok FROM documents),
       |tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
       |df AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY 1),
       |nn AS (SELECT COUNT(DISTINCT doc_id) AS n FROM tf),
       |w AS (SELECT doc_id, tok,
       |        CAST(floor(1000.0 * tf * (nn.n + 1) / (df.df + 1)) AS BIGINT) AS wi
       |      FROM tf JOIN df USING (tok) CROSS JOIN nn),
       |nrm AS (SELECT doc_id,
       |          SUM(CAST(wi AS DECIMAL(18,0)) * CAST(wi AS DECIMAL(18,0))) AS nr
       |        FROM w GROUP BY 1),
       |dots AS (SELECT b.doc_id,
       |           SUM(CAST(a.wi AS DECIMAL(18,0)) * CAST(b.wi AS DECIMAL(18,0))) AS dt
       |         FROM w a JOIN w b ON b.tok = a.tok AND b.doc_id <> a.doc_id
       |         WHERE a.doc_id = 0 GROUP BY 1),
       |dense AS (SELECT dots.doc_id AS doc_id,
       |           CAST(dt AS DOUBLE) /
       |             (sqrt(CAST(x.nr AS DOUBLE)) * sqrt(CAST(y.nr AS DOUBLE))) AS cosine
       |         FROM dots JOIN nrm x ON x.doc_id = 0
       |                   JOIN nrm y ON y.doc_id = dots.doc_id),
       |dnr AS (SELECT doc_id, rk FROM (
       |  SELECT doc_id, ROW_NUMBER() OVER (ORDER BY cosine DESC, doc_id) AS rk FROM dense)
       |  WHERE rk <= 50),
       |fused AS (
       |  SELECT COALESCE(b.doc_id, v.doc_id) AS doc_id,
       |         CAST(b.rk AS INT) AS bm25_rk, CAST(v.rk AS INT) AS dense_rk,
       |         COALESCE(1.0 / (60 + b.rk), 0.0) + COALESCE(1.0 / (60 + v.rk), 0.0) AS rrf
       |  FROM bmr b FULL OUTER JOIN dnr v ON v.doc_id = b.doc_id)
       |SELECT doc_id, bm25_rk, dense_rk, rrf, CAST(frk AS INT) AS frk FROM (
       |  SELECT *, ROW_NUMBER() OVER (ORDER BY rrf DESC, doc_id) AS frk FROM fused)
       |WHERE frk <= 10 ORDER BY frk""".stripMargin

  /** The RRF fusion over two pre-built rankings — `bm` (doc_id, score)
    * top-50 and `dense` (doc_id, cosine) per-query scored rows — shared
    * by q125 and q212. Both inputs are ≤ 50 rows; the windows here sort
    * bounded frames, never the corpus. */
  private[graft] def rrfFuse(bm: org.apache.spark.sql.DataFrame,
                      dense: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    rrfTop10(
      Similarity.topK(bm, Nil, "score", "doc_id", 50, "bm25_rk").select("doc_id", "bm25_rk"),
      Similarity.topK(dense, Nil, "cosine", "doc_id", 50, "dense_rk").select("doc_id", "dense_rk"),
      Nil)
      .select("doc_id", "bm25_rk", "dense_rk", "rrf", "frk")
      .orderBy("frk")

  /** THE reciprocal-rank fusion: two ranked legs full-outer joined on
    * (keys…, doc_id) — `lexical` carrying `bm25_rk`, `dense` carrying
    * `dense_rk` — fused score rrf = Σ 1/(60 + rank) over the legs that
    * hold the doc, top-10 per `keys` partition by (rrf DESC, doc_id) as
    * `frk`. */
  private[graft] def rrfTop10(lexical: org.apache.spark.sql.DataFrame,
      dense: org.apache.spark.sql.DataFrame, keys: Seq[String])
      : org.apache.spark.sql.DataFrame =
    Similarity.topK(lexical.join(dense, keys :+ "doc_id", "full_outer")
      .withColumn("rrf",
        coalesce(lit(1.0) / (lit(60) + col("bm25_rk")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(60) + col("dense_rk")), lit(0.0))),
      keys, "rrf", "doc_id", 10, "frk")

  val q125 = QueryDef(
    "q125_rrf_hybrid",
    rrfOracleSql) { (s, d) =>
    rrfFuse(bm25(s, d, Seq("dup", "window"), 50),
      sparseCosine(s, d, col("doc_id") === 0, k = 50))
  }

  /** q165: chunk-level BM25 retrieval — q101's log-free Okapi scoring run
    * over q152's overlapping 64/48-token chunks instead of whole
    * documents: the actual RAG serving shape ("give me the best
    * PASSAGES"), where a long document cannot hide a relevant span
    * behind a diluted whole-doc term frequency. Same two-term
    * IEEE-commutative score contract as q101 (sum of two doubles is
    * order-proof; every factor is +,-,×,÷ — no libm), so the gate pins
    * bit-identical scores.
    *
    * Scale posture: chunking stays per-document fan-out (q152's shape);
    * tf filters to the query terms BEFORE any shuffle, df (one row per
    * query term) and the chunk-corpus stats (one row) broadcast; the
    * only data-sized shuffle joins term-bearing chunks against chunk
    * lengths on the (doc, chunk) key. Top-10 is a fully-tiebroken
    * TakeOrdered. */
  /** q152's overlapping 64/48-token chunks of a documents frame:
    * (doc_id, chunk_id, start_tok, ctoks, dl) — per-document fan-out,
    * shared by q165 (inline) and the maintained chunk index (q215), so
    * the chunk boundaries can never drift between the two. */
  private def chunkFrame(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    docs
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .withColumn("n", size(col("toks")).cast("long"))
      .withColumn("n_chunks",
        when(col("n") <= 64, lit(1L)).otherwise(expr("(n - 17) div 48 + 1")))
      .select(col("doc_id"), col("toks"), col("n"),
        explode(sequence(lit(0L), col("n_chunks") - 1)).as("chunk_id"))
      .select(col("doc_id"), col("chunk_id"),
        (col("chunk_id") * 48).as("start_tok"),
        expr("slice(toks, cast(chunk_id * 48 + 1 as int), " +
          "cast(least(64, n - chunk_id * 48) as int))").as("ctoks"),
        least(lit(64L), col("n") - col("chunk_id") * 48).as("dl"))

  /** The chunk-BM25 oracle (monolithic chunking + scoring) — shared
    * verbatim by q165 (inline) and q215 (served from the maintained
    * chunk index store). */
  private val chunkBm25OracleSql: String =
    s"""WITH t AS (SELECT doc_id, string_split(trim(text), ' ') AS toks,
       |             len(string_split(trim(text), ' ')) AS n FROM documents),
       |c AS (SELECT doc_id, toks, n,
       |        CASE WHEN n <= 64 THEN 1 ELSE (n - 17) // 48 + 1 END AS n_chunks
       |      FROM t),
       |e AS (SELECT doc_id, toks, n, unnest(range(0, n_chunks)) AS chunk_id
       |      FROM c),
       |ch AS (SELECT doc_id, chunk_id, chunk_id * 48 AS start_tok,
       |         toks[(chunk_id*48+1):(chunk_id*48+least(64, n - chunk_id*48))] AS ctoks,
       |         least(64, n - chunk_id*48) AS dl
       |       FROM e),
       |stats AS (SELECT CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl,
       |                 CAST(COUNT(*) AS DOUBLE) AS n FROM ch),
       |tf AS (SELECT doc_id, chunk_id, w, CAST(COUNT(*) AS DOUBLE) AS tf
       |       FROM (SELECT doc_id, chunk_id, unnest(ctoks) AS w FROM ch)
       |       WHERE w IN ('dup', 'window') GROUP BY 1, 2, 3),
       |df AS (SELECT w, CAST(COUNT(*) AS DOUBLE) AS df FROM tf GROUP BY 1)
       |SELECT tf.doc_id, tf.chunk_id, ch.start_tok,
       |  SUM(((stats.n - df.df + 0.5) / (df.df + 0.5)) *
       |      ((tf.tf * 2.2) /
       |       (tf.tf + 1.2 * (0.25 + 0.75 * (CAST(ch.dl AS DOUBLE) / stats.avgdl)))))
       |    AS score
       |FROM tf CROSS JOIN stats
       |JOIN df ON df.w = tf.w
       |JOIN ch ON ch.doc_id = tf.doc_id AND ch.chunk_id = tf.chunk_id
       |GROUP BY 1, 2, 3
       |ORDER BY score DESC, tf.doc_id, tf.chunk_id LIMIT 10""".stripMargin

  val q165 = QueryDef(
    "q165_chunk_bm25",
    chunkBm25OracleSql) { (s, d) =>
    val terms = Seq("dup", "window")
    val ch = chunkFrame(Tables.documents(s, d))
    val tf = ch.select(col("doc_id"), col("chunk_id"), explode(col("ctoks")).as("w"))
      .filter(col("w").isin(terms: _*))
      .groupBy("doc_id", "chunk_id", "w").agg(count(lit(1)).cast("double").as("tf"))
    okapiTop(tf, ch.select("doc_id", "chunk_id", "start_tok", "dl"), lengthStats(ch),
      ChunkKeys, 10)
  }

  /** A chunk's score key: (doc_id, chunk_id) is unique, start_tok rides
    * along for the output. */
  private val ChunkKeys = Seq("doc_id", "chunk_id", "start_tok")

  // ------------------------------------------------------------------
  // Incremental retrieval-index maintenance (q206/q207): the q98/q101
  // index kept CURRENT as the corpus arrives in epochs, in one
  // kind-tagged store table laid out for query-time file pruning:
  //   kind 0 — postings: (w, doc_id, tf), term-clustered
  //   kind 1 — doc lengths: (doc_id, dl)
  //   kind 2 — per-epoch corpus-stats partial: (n_docs, sum_dl)
  // Maintenance is READ-FREE: an epoch tokenizes its batch and commits
  // one ledgered append — no store scan, no rebuild, cost strictly
  // batch-proportional. Every global statistic BM25 needs is either
  // additive across epochs (n, sum_dl — kind-2 partials summed at read
  // time) or derivable from the QUERY TERMS' own pruned postings (tf,
  // df), because a doc lands in exactly one epoch — so serving reads
  // prune to the probed terms' files and the maintained scores are
  // bit-identical to the monolithic recomputation (the q101 oracle).
  // ------------------------------------------------------------------

  /** One epoch of index maintenance: tokenize the batch, commit postings
    * + doc lengths + the stats partial as ONE ledgered append (replay
    * no-ops on the epoch ledger). The write lays rows out by
    * (kind, w, doc_id), so kind-0 files carry disjoint term ranges —
    * the prune [[bm25FromIndex]] relies on. */
  private[graft] def indexIngestEpoch(st: graft.sources.TableStore,
      compactLimit: Option[Int] = None,
      retainVersions: Option[Int] = None)(
      batch: org.apache.spark.sql.DataFrame, epoch: Long): Unit =
    if (!st.batchCommitted("index", epoch)) {
      // persist before the range layout: repartitionByRange SAMPLES its
      // child with a separate job, so an unpersisted postings frame
      // would pay the tokenize+explode+aggregate subtree twice per epoch
      val rows = indexRows(batch).persist()
      try st.appendBatch("index", epoch,
        Dedup.bucketLayout(rows, 8, "kind", "w", "doc_id"))
      finally { rows.unpersist(); () }
      // shared auto-compaction policy (one helper across the state/
      // index/ivf stores — ADVICE r15 #3): layout-preserving collapse,
      // ledger survives; compactLimit and retainVersions thread
      // per-caller policies without touching the session conf
      // (VERDICT r16 ADVICE / r17 next #4)
      Dedup.maybeAutoCompactClustered(batch.sparkSession, st, "index",
        Seq("kind", "w", "doc_id"), compactLimit, retainVersions)
    }

  private def indexRows(batch: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val toks = batch.select(col("doc_id"), tokens(col("text")).as("toks"))
    val nulL = lit(null).cast("long")
    val tf = toks.select(col("doc_id"), explode(col("toks")).as("w"))
      .groupBy("w", "doc_id").agg(count(lit(1)).as("tf"))
      .select(lit(0).as("kind"), col("w"), col("doc_id"), col("tf"),
        nulL.as("dl"), nulL.as("n_docs"), nulL.as("sum_dl"))
    val dl = toks
      .select(lit(1).as("kind"), lit("").as("w"), col("doc_id"), nulL.as("tf"),
        size(col("toks")).cast("long").as("dl"), nulL.as("n_docs"), nulL.as("sum_dl"))
    val stats = toks
      .agg(count(lit(1)).as("n_docs"), sum(size(col("toks"))).cast("long").as("sum_dl"))
      .select(lit(2).as("kind"), lit("").as("w"), lit(0L).as("doc_id"), nulL.as("tf"),
        nulL.as("dl"), col("n_docs"), col("sum_dl"))
    tf.unionByName(dl).unionByName(stats)
  }

  /** Create the (empty) index table [[indexIngestEpoch]] appends to. */
  private[graft] def buildSearchIndex(st: graft.sources.TableStore,
      seed: org.apache.spark.sql.DataFrame): Unit = {
    st.create("index", indexRows(seed)); ()
  }

  /** The probed terms' posting rows, file-pruned to kind-0 files whose
    * term range admits a query term (string min/max stats — a SUPERSET
    * read, filtered exactly below). */
  private def prunedPostings(st: graft.sources.TableStore, terms: Seq[String])
      : org.apache.spark.sql.DataFrame = {
    val (df, rep) = st.scanSkippingIn("index",
      Seq(graft.sources.FileStats.ColumnRange("kind", Some(0), Some(0))),
      "w", terms)
    Trace.storeRead("index.postings", rep)
    df.filter(col("kind") === 0 && col("w").isin(terms: _*))
      .select("w", "doc_id", "tf")
  }

  /** BM25 served from the maintained store — [[bm25]]'s exact scoring
    * expression over store-local inputs: tf/df from the pruned postings,
    * doc lengths from the kind-1 sidecar, (n, avgdl) from the summed
    * kind-2 partials. Bit-identical to the monolithic scores: tf and df
    * are the same counts (a doc lands in exactly one epoch), n/sum_dl
    * are exact integer sums, and the double expression tree is a literal
    * mirror of [[bm25]]'s. */
  private[graft] def bm25FromIndex(st: graft.sources.TableStore,
      terms: Seq[String], k: Int): org.apache.spark.sql.DataFrame = {
    // pin: tf feeds the df aggregate, the matched-id collect AND the
    // scoring join — one execution of the pruned posting read
    val tf = Dedup.pin(postingTf(st, terms))
    okapiTop(tf, matchedDocLengths(st, tf), partialStats(st.table("index"), "n_docs"),
      Seq("doc_id"), k)
  }

  /** The probed terms' pruned postings as (w, doc_id, tf double). */
  private def postingTf(st: graft.sources.TableStore, terms: Seq[String])
      : org.apache.spark.sql.DataFrame =
    prunedPostings(st, terms)
      .select(col("w"), col("doc_id"), col("tf").cast("double").as("tf"))

  /** Doc lengths of the docs a pinned `tf` posting frame matched. Shared
    * by the single-ranking and the per-query BM25 serving reads. */
  private def matchedDocLengths(st: graft.sources.TableStore,
      tf: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    matchedSidecar(st, "index", tf, "index.doclen").select(col("doc_id"), col("dl"))

  /** The kind-1 sidecar rows of `table` pruned to the docs a pinned `tf`
    * posting frame matched (kind-1 rows sort by doc_id within their kind
    * range, so the id probe skips files) — the read is then
    * matched-bounded, not corpus-proportional. Guarded by the kernel's
    * broadcast ceiling with ONE bounded collect
    * ([[Dedup.collectUnder]]): a stop-term probe over the cap falls back
    * to the full kind-1 slice instead of a driver collect. */
  private def matchedSidecar(st: graft.sources.TableStore, table: String,
      tf: org.apache.spark.sql.DataFrame, tag: String): org.apache.spark.sql.DataFrame = {
    Dedup.collectUnder(tf.select("doc_id").distinct(), Dedup.MaxBroadcastCandidateDocs) match {
      case Some(rows) =>
        val ids = rows.map(_.getLong(0))
        java.util.Arrays.sort(ids)
        val (df, rep) = st.scanSkippingIds(table,
          Seq(graft.sources.FileStats.ColumnRange("kind", Some(1), Some(1))),
          "doc_id", ids)
        Trace.storeRead(tag, rep)
        df.filter(col("kind") === 1)
      case None => st.table(table).filter(col("kind") === 1)
    }
  }

  /** A deterministic PER-QUERY lexical workload derived from the index
    * DICTIONARY (VERDICT r18 next #1): terms ranked by (df DESC, w) —
    * df read from the kind-0 postings as one hash aggregate whose
    * result is |vocabulary| rows, a dictionary statistic, never a
    * serving read — and dealt round-robin across `nQ` queries, so query
    * q carries the terms at ranks q+1, q+nQ+1, … (one high-df and one
    * mid-df term at perQuery = 2). Exactly mirrored by the q233
    * oracle's ROW_NUMBER() OVER (ORDER BY df DESC, w) CTE. perQuery
    * stays ≤ 2 by contract: per-(query, doc) scores then sum at most
    * TWO doubles, which is order-independent — three or more addends
    * would break cross-engine summation-order parity (the q230
    * two-term discipline). */
  private[graft] def termWorkload(st: graft.sources.TableStore,
      nQ: Int, perQuery: Int): Seq[(Int, String)] = {
    require(perQuery >= 1 && perQuery <= 2,
      "perQuery > 2 breaks double summation-order parity (see Scaladoc)")
    st.table("index").filter(col("kind") === 0)
      .groupBy("w").agg(count(lit(1)).as("df"))
      .orderBy(col("df").desc, col("w"))
      .limit(nQ * perQuery)
      .collect()
      .zipWithIndex
      .map { case (r, i) => (i % nQ, r.getString(0)) }
      .toSeq
  }

  /** Per-query BM25 served from the maintained store — [[bm25FromIndex]]
    * with each query carrying ITS OWN terms: one pruned posting read
    * over the union of the workload's term sets (each query's serving
    * cost stays bounded by its own terms' posting files; batching the
    * union schedules one scan instead of |queries|), then a broadcast
    * (query_id, w) map joins each posting row to the queries probing
    * that term, and scoring/ranking runs PER QUERY. df per term is
    * global (every posting row of a probed term is read), so scores are
    * bit-identical to the monolithic per-query recomputation. Returns
    * (query_id, doc_id, bm25_rk) with rk <= k per query. */
  private[graft] def bm25PerQueryFromIndex(st: graft.sources.TableStore,
      termMap: Seq[(Int, String)], k: Int): org.apache.spark.sql.DataFrame = {
    val idx = st.table("index")
    val s = idx.sparkSession
    import s.implicits._
    val tf = Dedup.pin(postingTf(st, termMap.map(_._2).distinct))
    Similarity.topK(okapi(tf, matchedDocLengths(st, tf), partialStats(idx, "n_docs"),
        Seq("query_id", "doc_id"), Some(termMap.toDF("query_id", "w"))),
      Seq("query_id"), "score", "doc_id", k, "bm25_rk")
      // long ids: the fusion joins these against embedding vec_ids
      .select(col("query_id").cast("long").as("query_id"), col("doc_id"),
        col("bm25_rk"))
  }

  /** [[bm25FromIndex]] over a TIME-TRAVEL snapshot frame
    * ([[graft.sources.TableStore.tableAt]]) instead of the current
    * store: the audit/reproducibility path, so it reads the historical
    * version's files plainly (file-prune stats belong to the current
    * snapshot) — correct first, hot-path second. */
  private[graft] def bm25FromSnapshot(idx: org.apache.spark.sql.DataFrame,
      terms: Seq[String], k: Int): org.apache.spark.sql.DataFrame = {
    val tf = Dedup.pin(idx.filter(col("kind") === 0 && col("w").isin(terms: _*))
      .select(col("w"), col("doc_id"), col("tf").cast("double").as("tf")))
    okapiTop(tf, idx.filter(col("kind") === 1).select(col("doc_id"), col("dl")),
      partialStats(idx, "n_docs"), Seq("doc_id"), k)
  }

  /** The maintained index store for `d`, memoized per session: whichever
    * of q206/q207 (or the hybrid gates) runs first pays the 4-epoch
    * build, all serve from the same store. */
  private[graft] def maintainedIndex(s: org.apache.spark.sql.SparkSession,
      d: String): graft.sources.TableStore =
    Epochs.memo(s, d, "graft-search-index") { st =>
      val docs = Tables.documents(s, d).select("doc_id", "text")
      buildSearchIndex(st, docs.limit(0))
      Epochs.direct(Epochs.slice(docs, col("doc_id"), 4))(indexIngestEpoch(st))
    }

  /** q206: INCREMENTAL BM25 index maintenance — q101's ranked retrieval
    * served from an index the ingest keeps current, never from corpus
    * text. Maintenance is read-free appends (cost strictly batch-
    * proportional); serving file-prunes to the query terms' posting
    * files; and the maintained scores are bit-identical to the
    * monolithic recomputation, which IS the oracle — the maintained-
    * family discipline (q203–q205) applied to retrieval. */
  val q206 = QueryDef(
    "q206_incremental_bm25_index",
    bm25OracleSql) { (s, d) =>
    bm25FromIndex(maintainedIndex(s, d), Seq("dup", "window"), 20)
  }

  /** q207: conjunctive serving from the maintained index — q99's AND
    * query answered by the pruned posting intersection (touch only the
    * probed terms' files, count distinct matched terms per doc), against
    * the direct-corpus-scan oracle. */
  val q207 = QueryDef(
    "q207_index_conjunctive_serving",
    conjunctiveOracleSql) { (s, d) =>
    val terms = Seq("dup", "window")
    prunedPostings(maintainedIndex(s, d), terms)
      .groupBy("doc_id")
      .agg(countDistinct(col("w")).as("n_hit"))
      .filter(col("n_hit") === terms.length)
      .select("doc_id")
      .orderBy("doc_id")
  }

  /** q209: the maintained BM25 index under a REAL `writeStream` — the
    * thirteenth streaming gate. q206 proved "maintained store ≡
    * monolithic recomputation" with direct epoch calls; here the SAME
    * store is built by Structured Streaming driving
    * [[graft.streaming.IndexIngest.indexIngestSink]] over a
    * strictly-sliced staged file replay (the q199 discipline: doc_id
    * slices staged as aligned parquet files, `maxFilesPerTrigger` =
    * slice width, AvailableNow), so the stream wiring — micro-batch
    * sessions, epoch ids, replay-on-restart — is on the oracle-gated
    * path, not just the epoch body. Serving then file-prunes to the
    * query terms' posting files exactly as q206. Oracle = q101's
    * monolithic corpus recomputation verbatim.
    *
    * Scale posture: per-epoch work is read-free batch tokenization + one
    * ledgered append (cost strictly batch-proportional); the shared
    * auto-compaction policy bounds the chain under an unbounded
    * ingest. */
  val q209 = QueryDef(
    "q209_streamed_bm25_index",
    bm25OracleSql)(streamedIndexImpl()(_, _))

  /** q209 body; `rowsPerFile` sizes the staged replay files (specs pass
    * a tiny value to force the multi-file aligned-batch path). One call
    * into the shared [[Epochs.streamed]] replay. */
  private[graft] def streamedIndexImpl(
      rowsPerFile: Long = EventsOps.OuterStageRowsPerFile, slices: Int = 2)(
      s: org.apache.spark.sql.SparkSession, d: String)
      : org.apache.spark.sql.DataFrame = {
    val docs = Tables.documents(s, d).select("doc_id", "text")
    Epochs.scratchStore(s, "graft-index-stream") { st =>
      buildSearchIndex(st, docs.limit(0))
      Epochs.streamed(s, Epochs.slice(docs, col("doc_id"), slices), rowsPerFile,
        "q209_index_sink")(graft.streaming.IndexIngest.indexIngestSink(st))
      bm25FromIndex(st, Seq("dup", "window"), 20)
    }
  }

  /** q218: the maintained CHUNK index under a REAL `writeStream` — the
    * passage-retrieval sibling of q209 (VERDICT r16 next #3: q215 proved
    * "maintained chunk store ≡ monolithic recomputation" with direct
    * epoch calls; here the SAME store is built by Structured Streaming
    * driving [[graft.streaming.IndexIngest.chunkIndexIngestSink]] over
    * the shared staged replay, so the stream wiring is on the
    * oracle-gated path). Serving is [[chunkBm25FromIndex]] — term-pruned
    * postings, matched-bounded chunk sidecar. Oracle = q165's monolithic
    * chunking + scoring verbatim. */
  val q218 = QueryDef(
    "q218_streamed_chunk_index",
    chunkBm25OracleSql)(streamedChunkIndexImpl()(_, _))

  /** q218 body; `rowsPerFile` sizes the staged replay files (specs pass
    * a tiny value to force the multi-file aligned-batch path). */
  private[graft] def streamedChunkIndexImpl(
      rowsPerFile: Long = EventsOps.OuterStageRowsPerFile, slices: Int = 2)(
      s: org.apache.spark.sql.SparkSession, d: String)
      : org.apache.spark.sql.DataFrame = {
    val docs = Tables.documents(s, d).select("doc_id", "text")
    Epochs.scratchStore(s, "graft-chunk-stream") { st =>
      buildChunkIndex(st, docs.limit(0))
      Epochs.streamed(s, Epochs.slice(docs, col("doc_id"), slices), rowsPerFile,
        "q218_chunkindex_sink")(graft.streaming.IndexIngest.chunkIndexIngestSink(st))
      chunkBm25FromIndex(st, Seq("dup", "window"), 10)
    }
  }

  /** [[tfidfWeights]] recomputed from the maintained store alone: tf is
    * the kind-0 posting's own count (a doc lands in exactly one epoch,
    * so per-epoch tf IS global tf), df counts each token's posting rows,
    * and n counts kind-1 docs with ≥ 1 token (= the oracle's
    * COUNT(DISTINCT doc_id) over the tf pairs). Same fixed-point weight
    * expression as the corpus path, so every downstream bit matches. */
  private def tfidfWeightsFromIndex(st: graft.sources.TableStore)
      : org.apache.spark.sql.DataFrame = {
    val idx = st.table("index")
    val tf = idx.filter(col("kind") === 0)
      .select(col("doc_id"), col("w").as("tok"), col("tf"))
    val dfreq = tf.groupBy("tok").agg(count(lit(1)).as("df"))
    val n1 = idx.filter(col("kind") === 1 && col("dl") > 0)
      .agg(count(lit(1)).as("n"))
    // no broadcast hint on dfreq — corpus-vocabulary cardinality (the
    // same contract as the corpus-path weights); only the 1-row n frame
    // broadcasts
    tf.join(dfreq, Seq("tok")).crossJoin(broadcast(n1))
      .select(col("doc_id"), col("tok"),
        floor(lit(1000.0) * col("tf") * (col("n") + 1) / (col("df") + 1))
          .cast("long").cast("decimal(18,0)").as("wi"))
  }

  /** Every ingested doc id, from the kind-1 doc-length sidecar — the
    * maintained stand-in for the corpus doc_id scan (one row per doc,
    * including zero-token docs, exactly like the raw documents table). */
  private def docIdsFromIndex(st: graft.sources.TableStore)
      : org.apache.spark.sql.DataFrame =
    st.table("index").filter(col("kind") === 1).select("doc_id")

  /** q211: tf-idf cosine retrieval SERVED from the maintained index —
    * q119's 20-query top-3 computed entirely from the q206 store (kind-0
    * postings → weights, kind-1 sidecar → query ids), never from corpus
    * text: at 100 TB the corpus-recompute path is the one a user would
    * be forbidden from running, and the store already holds exactly the
    * postings the weights need. Oracle = q119's monolithic recomputation
    * verbatim (the maintained-family discipline q206 applied to BM25).
    *
    * Scale posture: one full kind-0 index scan (the index IS the
    * tokenized corpus — no term prune exists for all-pairs vector
    * similarity), then [[sparseCosineFrom]]'s broadcast-pivot kernel:
    * input stays |postings| rows, partial state is docs-per-partition
    * accumulator rows, top-k is the bounded TopKAggregator. */
  val q211 = QueryDef(
    "q211_index_tfidf_serving",
    tfidfOracleSql) { (s, d) =>
    val st = maintainedIndex(s, d)
    Similarity.topK(sparseCosineFrom(docIdsFromIndex(st),
      tfidfWeightsFromIndex(st), col("doc_id") < 20, k = 3),
      Seq("query_id"), "cosine", "doc_id", 3).orderBy("query_id", "rk")
  }

  /** q212: RRF hybrid retrieval SERVED from the maintained index — both
    * of q125's input rankings (the BM25 top-50 and the doc-0 tf-idf
    * cosine) computed from the q206 store, fused by the shared
    * [[rrfFuse]]; the oracle is q125's monolithic recomputation
    * verbatim. The lexical leg file-prunes to the query terms' posting
    * files ([[bm25FromIndex]]); the dense leg pays the kind-0 scan
    * (q211's shape). */
  val q212 = QueryDef(
    "q212_index_rrf_serving",
    rrfOracleSql) { (s, d) =>
    val st = maintainedIndex(s, d)
    rrfFuse(bm25FromIndex(st, Seq("dup", "window"), 50),
      sparseCosineFrom(docIdsFromIndex(st),
        tfidfWeightsFromIndex(st), col("doc_id") === 0, k = 50))
  }

  // ------------------------------------------------------------------
  // Maintained CHUNK index (q215): q165's passage retrieval served from
  // a store the ingest keeps current — the RAG-serving member of the
  // maintained-index family. One kind-tagged table (`chunkindex`):
  //   kind 0 — chunk postings: (w, doc_id, chunk_id, tf), term-clustered
  //   kind 1 — chunk sidecar: (doc_id, chunk_id, start_tok, dl)
  //   kind 2 — per-epoch stats partial: (n_chunks, sum_dl)
  // Chunking is per-document fan-out and a doc lands in exactly ONE
  // epoch, so chunk tf/df and the additive stats reconstruct the
  // monolithic values exactly — the q206 argument, one level down.
  // ------------------------------------------------------------------

  private def chunkIndexRows(batch: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val ch = chunkFrame(batch)
    val nulL = lit(null).cast("long")
    val tf = ch.select(col("doc_id"), col("chunk_id"), explode(col("ctoks")).as("w"))
      .groupBy("w", "doc_id", "chunk_id").agg(count(lit(1)).as("tf"))
      .select(lit(0).as("kind"), col("w"), col("doc_id"), col("chunk_id"),
        nulL.as("start_tok"), col("tf"), nulL.as("dl"),
        nulL.as("n_chunks"), nulL.as("sum_dl"))
    val lens = ch
      .select(lit(1).as("kind"), lit("").as("w"), col("doc_id"), col("chunk_id"),
        col("start_tok"), nulL.as("tf"), col("dl"),
        nulL.as("n_chunks"), nulL.as("sum_dl"))
    val stats = ch
      .agg(count(lit(1)).as("n_chunks"), sum(col("dl")).cast("long").as("sum_dl"))
      .select(lit(2).as("kind"), lit("").as("w"), lit(0L).as("doc_id"),
        lit(0L).as("chunk_id"), nulL.as("start_tok"), nulL.as("tf"),
        nulL.as("dl"), col("n_chunks"), col("sum_dl"))
    tf.unionByName(lens).unionByName(stats)
  }

  /** One epoch of chunk-index maintenance: chunk + tokenize the batch
    * and commit postings + chunk sidecar + stats partial as ONE
    * ledgered, READ-FREE append (replay no-ops); the shared
    * auto-compaction policy collapses long chains layout-preservingly. */
  private[graft] def chunkIndexIngestEpoch(st: graft.sources.TableStore)(
      batch: org.apache.spark.sql.DataFrame, epoch: Long): Unit = {
    if (st.batchCommitted("chunkindex", epoch)) return
    st.appendBatch("chunkindex", epoch,
      Dedup.bucketLayout(chunkIndexRows(batch), 8, "kind", "w", "doc_id", "chunk_id"))
    Dedup.maybeAutoCompactClustered(batch.sparkSession, st, "chunkindex",
      Seq("kind", "w", "doc_id", "chunk_id"))
  }

  /** Create the (empty) chunk-index table [[chunkIndexIngestEpoch]]
    * appends to. */
  private[graft] def buildChunkIndex(st: graft.sources.TableStore,
      seed: org.apache.spark.sql.DataFrame): Unit = {
    st.create("chunkindex", chunkIndexRows(seed)); ()
  }

  /** q165's scoring served from the maintained chunk store — the exact
    * expression tree over store-local inputs: tf/df from the term-pruned
    * kind-0 postings, chunk lengths from the kind-1 sidecar (pruned to
    * the MATCHED docs' id range, ceiling-guarded), (n, avgdl) from the
    * summed kind-2 partials. Bit-identical to the monolithic scores for
    * the q206 reasons. */
  private[graft] def chunkBm25FromIndex(st: graft.sources.TableStore,
      terms: Seq[String], k: Int): org.apache.spark.sql.DataFrame = {
    val (tfScan, rep) = st.scanSkippingIn("chunkindex",
      Seq(graft.sources.FileStats.ColumnRange("kind", Some(0), Some(0))),
      "w", terms)
    Trace.storeRead("chunkindex.postings", rep)
    val tf = Dedup.pin(tfScan
      .filter(col("kind") === 0 && col("w").isin(terms: _*))
      .select(col("doc_id"), col("chunk_id"), col("w"),
        col("tf").cast("double").as("tf")))
    val ch = matchedSidecar(st, "chunkindex", tf, "chunkindex.lens")
      .select(col("doc_id"), col("chunk_id"), col("start_tok"), col("dl"))
    okapiTop(tf, ch, partialStats(st.table("chunkindex"), "n_chunks"), ChunkKeys, k)
  }

  /** The maintained chunk store for `d`, memoized per session (the q206
    * discipline). */
  private def maintainedChunkIndex(s: org.apache.spark.sql.SparkSession,
      d: String): graft.sources.TableStore =
    Epochs.memo(s, d, "graft-chunk-index") { st =>
      val docs = Tables.documents(s, d).select("doc_id", "text")
      buildChunkIndex(st, docs.limit(0))
      Epochs.direct(Epochs.slice(docs, col("doc_id"), 4))(chunkIndexIngestEpoch(st))
    }

  /** q215: MAINTAINED chunk-BM25 index — q165's passage retrieval (the
    * RAG serving shape) answered from chunk-level inverted postings a
    * read-free ingest keeps current, never from corpus text. With q206
    * (doc BM25), q207 (conjunctive), q211 (tf-idf cosine) and q212
    * (RRF), every retrieval gate in the suite now has a maintained
    * serving path. Oracle = q165's monolithic recomputation verbatim. */
  val q215 = QueryDef(
    "q215_maintained_chunk_index",
    chunkBm25OracleSql) { (s, d) =>
    chunkBm25FromIndex(maintainedChunkIndex(s, d), Seq("dup", "window"), 10)
  }

  /** q216: TIME-TRAVEL serving of the maintained index THROUGH live
    * maintenance — "search yesterday's index": every maintenance epoch
    * publishes a new store version, and a RETENTION PIN
    * ([[graft.sources.TableStore.pinVersion]]) carries the chosen
    * snapshot through the compact+vacuum cycles that reclaim its
    * neighbors. The gate ingests four doc_id epochs with the
    * auto-compaction policy FORCED HOT (compactLimit = 2, threaded as a
    * parameter — never by toggling the shared session conf), pins the
    * post-epoch-1 version, lets two further epochs land — each tripping
    * a real policy compaction whose vacuum reclaims the pin's unpinned
    * neighbors — and serves BM25 from the pinned snapshot. The oracle is
    * the monolithic q101 recomputation over the first two epochs' corpus
    * prefix: point-in-time retrieval reproducibility (re-running
    * yesterday's retrieval yields yesterday's results bit-for-bit) as an
    * oracle-gated guarantee that now COEXISTS with bounded-chain
    * maintenance instead of requiring compaction off (VERDICT r16 #1).
    *
    * Scale posture: snapshot reads scan the historical version's files
    * plainly (audit path); maintenance cost is q206's read-free append
    * bound plus the forced compactions; a pin costs exactly the pinned
    * snapshot's bytes. */
  /** The monolithic q101 BM25 recomputation over a doc_id PREFIX of the
    * corpus — parameterized on the prefix predicate because the two
    * epoch-slicing disciplines cut differently: the direct-epoch builds
    * (q216/q229) slice by `step = (hi-lo)/4 + 1`, while the staged
    * replay (q231) slices by [[EventsOps]]' strictCuts
    * (`lo + (hi-lo)*k/slices`, half-open upper-inclusive). The oracle
    * must mirror the exact integer cut of the build it gates. */
  private def bm25PrefixOracleSql(prefixPred: String): String =
    s"""WITH b AS (SELECT MIN(doc_id) AS lo, MAX(doc_id) AS hi FROM documents),
       |docs AS (
       |  SELECT d.doc_id, d.text FROM documents d, b
       |  WHERE $prefixPred),
       |dl AS (
       |  SELECT doc_id, len(string_split(trim(text), ' ')) AS dl FROM docs),
       |stats AS (
       |  SELECT CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl,
       |         CAST(COUNT(*) AS DOUBLE) AS n FROM dl),
       |tf AS (
       |  SELECT doc_id, w, CAST(COUNT(*) AS DOUBLE) AS tf
       |  FROM (SELECT doc_id, unnest(string_split(trim(text), ' ')) AS w FROM docs)
       |  WHERE w IN ('dup', 'window') GROUP BY 1, 2),
       |df AS (SELECT w, CAST(COUNT(*) AS DOUBLE) AS df FROM tf GROUP BY 1)
       |SELECT tf.doc_id AS doc_id,
       |  SUM(((stats.n - df.df + 0.5) / (df.df + 0.5)) *
       |      ((tf.tf * 2.2) /
       |       (tf.tf + 1.2 * (0.25 + 0.75 * (CAST(dl.dl AS DOUBLE) / stats.avgdl))))) AS score
       |FROM tf CROSS JOIN stats
       |JOIN df ON df.w = tf.w
       |JOIN dl ON dl.doc_id = tf.doc_id
       |GROUP BY 1 ORDER BY 2 DESC, 1 LIMIT 20""".stripMargin

  /** Two-of-four epochs under the DIRECT build's slicing (q216/q229). */
  private val twoEpochBm25OracleSql: String =
    bm25PrefixOracleSql("d.doc_id < b.lo + 2 * ((b.hi - b.lo) // 4 + 1)")

  /** Two-of-four stages under the STAGED REPLAY's strictCuts slicing
    * (q231): stage k covers (lo + (hi-lo)(k-1)/4, lo + (hi-lo)k/4]. */
  private val twoStageBm25OracleSql: String =
    bm25PrefixOracleSql("d.doc_id <= b.lo + (b.hi - b.lo) * 2 // 4")

  val q216 = QueryDef(
    "q216_index_time_travel",
    twoEpochBm25OracleSql) { (s0, d) =>
    // batch-bounded epochs: the volume-derived q183 replay width
    val inBytes = EventsOps.planBytes(
      Tables.documents(s0, d).select("doc_id", "text"))
    EventsOps.withReplayWidth(s0, inBytes / 4) { s =>
    val docs = Tables.documents(s, d).select("doc_id", "text")
    Epochs.scratchStore(s, "graft-index-tt") { st =>
      buildSearchIndex(st, docs.limit(0))
      val sl = Epochs.slice(docs, col("doc_id"), 4)
      Epochs.direct(sl) { (batch, e) =>
        // compactLimit = 2: every epoch's append trips a REAL policy
        // compaction (+ vacuum) — the pin must carry the snapshot
        // through them, which is exactly what this gate checks
        indexIngestEpoch(st, compactLimit = Some(2))(batch, e)
        if (e == 1L) st.pinVersion("index", "epoch1")
      }
      if (sl.epochs == 0) st.pinVersion("index", "epoch1") // empty-corpus shape
      // serve phase reads the store-wide snapshot — full-volume width
      EventsOps.serveWidth(s, inBytes)
      bm25FromSnapshot(st.tableAtPin("index", "epoch1"), Seq("dup", "window"), 20)
    }
    }
  }

  /** q229: time travel to a WINDOW-retained version — the un-named,
    * un-pinned complement of q216 (VERDICT r17 next #4): nothing marks
    * the post-epoch-1 snapshot except the rolling keep-last-N retention
    * window, threaded per-store as a parameter (`retainVersions = 6`,
    * the compactLimit pattern — never the shared session conf). Four
    * doc_id epochs land with the compaction policy forced hot; each
    * epoch's compaction+vacuum would reclaim the bare post-epoch-1
    * version (it is superseded and nobody pinned it), but the window
    * keeps the last 6, so `tableAt` on the remembered version number
    * still serves — and BM25 from that snapshot must reproduce the
    * monolithic two-epoch-prefix recomputation bit-for-bit. This is the
    * "any version from the last N mutations" debugging read (what did
    * the index serve three maintenance cycles ago?), where pins are the
    * named-release read.
    *
    * Scale posture: identical to q216's — the window costs the retained
    * versions' bytes, never epoch time (vacuum merely skips them); the
    * snapshot read scans the historical version's files plainly (audit
    * path). Window sizing: epochs 2 and 3 each publish an append + a
    * compaction version (4 total after the remembered one), so N = 6
    * holds the target with margin while still letting vacuum reclaim
    * everything older. */
  val q229 = QueryDef(
    "q229_windowed_time_travel",
    twoEpochBm25OracleSql) { (s0, d) =>
    val inBytes = EventsOps.planBytes(
      Tables.documents(s0, d).select("doc_id", "text"))
    EventsOps.withReplayWidth(s0, inBytes / 4) { s =>
    val docs = Tables.documents(s, d).select("doc_id", "text")
    Epochs.scratchStore(s, "graft-index-window") { st =>
      buildSearchIndex(st, docs.limit(0))
      val versions = Epochs.direct(Epochs.slice(docs, col("doc_id"), 4)) { (batch, e) =>
        indexIngestEpoch(st, compactLimit = Some(2),
          retainVersions = Some(6))(batch, e)
        // remember the BARE version number — no pin, no label; only
        // the retention window carries it through epochs 2 and 3
        st.currentVersionOf("index")
      }
      // epoch 1's version; the empty-corpus shape reads the current one
      val windowV = versions.lift(1).getOrElse(st.currentVersionOf("index"))
      // serve phase reads the store-wide snapshot — full-volume width
      EventsOps.serveWidth(s, inBytes)
      bm25FromSnapshot(st.tableAt("index", windowV), Seq("dup", "window"), 20)
    }
    }
  }

  /** q231: a RELEASE PINNED MID-STREAM (the 19th streaming gate) —
    * q216's retention story composed with q209's streaming discipline:
    * the index builds under a REAL `writeStream` (the shared
    * [[Epochs.streamed]] replay, four strict doc_id
    * stages), the sink runs each micro-batch through the forced-hot
    * compaction policy (compactLimit = 2), and the pin lands INSIDE the
    * `foreachBatch` callback the moment epoch 1 commits — the
    * production shape, where "tag yesterday's index" is a step of the
    * live ingest, not an offline pass. Two further micro-batches then
    * compact+vacuum the pin's neighbors, and BM25 from the pinned
    * snapshot must reproduce the monolithic recomputation over the
    * first two STAGES' corpus prefix (the replay's own strictCuts
    * boundary — see [[bm25PrefixOracleSql]]).
    *
    * Scale posture: q209's batch-proportional ingest + q216's
    * pin-costs-storage contract; the pin call itself is one sidecar
    * rewrite inside the batch that created the version it names. */
  val q231 = QueryDef(
    "q231_streamed_pinned_index",
    twoStageBm25OracleSql) { (s, d) =>
    val docs = Tables.documents(s, d).select("doc_id", "text")
    Epochs.scratchStore(s, "graft-index-stream-pin") { st =>
      buildSearchIndex(st, docs.limit(0))
      Epochs.streamed(s, Epochs.slice(docs, col("doc_id"), 4),
        EventsOps.OuterStageRowsPerFile, "q231_pinned_index_sink") { (batch, e) =>
        indexIngestEpoch(st, compactLimit = Some(2))(batch, e)
        // the pin is PART of the ingest: taken in the same
        // micro-batch that published the post-epoch-1 version
        if (e == 1L) { st.pinVersion("index", "epoch1"); () }
      }
      if (!st.pinnedVersions("index").contains("epoch1"))
        st.pinVersion("index", "epoch1") // empty-corpus shape
      bm25FromSnapshot(st.tableAtPin("index", "epoch1"), Seq("dup", "window"), 20)
    }
  }

  val all: Seq[QueryDef] =
    Seq(q98, q99, q101, q119, q125, q165, q206, q207, q209, q211, q212, q215,
      q216, q218, q229, q231)
}
