package graft.operators

import org.apache.spark.sql.functions._
import graft.core.{QueryDef, Resources, Tables}
import graft.obs.Trace

/** Hybrid retrieval with an ANN dense leg — the shape a production
  * retrieval stack actually runs at 100 TB (VERDICT r16 next #2): the
  * RRF fusion's lexical leg serves from the maintained BM25 index
  * (file-pruned to the query terms' posting files, q206's path) and its
  * DENSE leg serves from the maintained IVF list store (file-pruned to
  * the probed clusters' list files, q208's path) instead of q211's
  * exact all-postings tf-idf scan. The documents and embeddings tables
  * share the id space (vec_id = the doc's embedding), so the fusion
  * joins on one id.
  *
  * An ANN leg is approximate BY CONTRACT, so the gate carries its own
  * measured quality (the q89 multi-probe-recall discipline): alongside
  * the fused top-10 it emits `in_exact` per row and `recall_10` — the
  * overlap between this ANN-legged fusion and the EXACT-dense-legged
  * fusion (brute-force cosine over all vectors) — and the oracle
  * recomputes BOTH fusions monolithically, so the recall figure itself
  * is hash-gated, not just eyeballed. Every component is bit-exact
  * cross-engine (log-free BM25, exact-decimal cosine), hence so are the
  * ranks, flags and the recall ratio.
  */
object HybridOps {

  /** The fused-ranking emission shared by the ANN and exact fusion legs:
    * RRF top-10 plus membership flags vs the exact fusion. */
  private val hybridOracleSql: String = {
    val dot = Similarity.dotSql("q.v", "c.v")
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
       |nv AS (${Similarity.normedSql}),
       |qv AS (SELECT * FROM nv WHERE vec_id = 0),
       |ann AS (
       |  SELECT c.vec_id AS doc_id,
       |    ${Similarity.cosSql(dot, "q.nrm", "c.nrm")} AS cosine
       |  FROM qv q JOIN nv c ON c.label = q.label AND c.vec_id <> q.vec_id),
       |adr AS (SELECT doc_id, rk FROM (
       |  SELECT doc_id, ROW_NUMBER() OVER (ORDER BY cosine DESC, doc_id) AS rk FROM ann)
       |  WHERE rk <= 50),
       |ex AS (
       |  SELECT c.vec_id AS doc_id,
       |    ${Similarity.cosSql(dot, "q.nrm", "c.nrm")} AS cosine
       |  FROM qv q JOIN nv c ON c.vec_id <> q.vec_id),
       |edr AS (SELECT doc_id, rk FROM (
       |  SELECT doc_id, ROW_NUMBER() OVER (ORDER BY cosine DESC, doc_id) AS rk FROM ex)
       |  WHERE rk <= 50),
       |fa AS (
       |  SELECT COALESCE(b.doc_id, a.doc_id) AS doc_id,
       |         CAST(b.rk AS INT) AS bm25_rk, CAST(a.rk AS INT) AS dense_rk,
       |         COALESCE(1.0 / (60 + b.rk), 0.0) + COALESCE(1.0 / (60 + a.rk), 0.0) AS rrf
       |  FROM bmr b FULL OUTER JOIN adr a ON a.doc_id = b.doc_id),
       |fa10 AS (SELECT doc_id, bm25_rk, dense_rk, rrf, CAST(frk AS INT) AS frk FROM (
       |  SELECT *, ROW_NUMBER() OVER (ORDER BY rrf DESC, doc_id) AS frk FROM fa)
       |  WHERE frk <= 10),
       |fe AS (
       |  SELECT COALESCE(b.doc_id, e.doc_id) AS doc_id,
       |         COALESCE(1.0 / (60 + b.rk), 0.0) + COALESCE(1.0 / (60 + e.rk), 0.0) AS rrf
       |  FROM bmr b FULL OUTER JOIN edr e ON e.doc_id = b.doc_id),
       |fe10 AS (SELECT doc_id FROM (
       |  SELECT doc_id, ROW_NUMBER() OVER (ORDER BY rrf DESC, doc_id) AS frk FROM fe)
       |  WHERE frk <= 10),
       |flag AS (
       |  SELECT f.doc_id, f.bm25_rk, f.dense_rk, f.rrf, f.frk,
       |         CASE WHEN e.doc_id IS NOT NULL THEN 1 ELSE 0 END AS in_exact
       |  FROM fa10 f LEFT JOIN fe10 e ON e.doc_id = f.doc_id),
       |rec AS (SELECT CAST(SUM(in_exact) AS DOUBLE) / 10.0 AS recall_10 FROM flag)
       |SELECT doc_id, bm25_rk, dense_rk, rrf, frk, in_exact, recall_10
       |FROM flag CROSS JOIN rec ORDER BY frk""".stripMargin
  }

  /** q217: RRF hybrid with the maintained stores on BOTH legs — lexical
    * from the q206 BM25 index (term-pruned posting files), dense from
    * the q208 IVF lists (probe-1, cluster-pruned list files). The
    * exact-dense fusion is recomputed ONLY to measure recall@10 — at
    * deployment scale that reference never runs; the gate runs it so
    * the approximation's quality is an oracle-gated number.
    *
    * Scale posture: the lexical leg reads the probed terms' posting
    * files + matched doc lengths; the dense leg reads the probed
    * cluster's list files (skip-trace-pinned in HybridServingSpec);
    * the fusion itself joins two ≤ 50-row rankings — free. */
  val q217 = QueryDef(
    "q217_hybrid_ann_rrf",
    hybridOracleSql) { (s, d) =>
    val st = SearchOps.maintainedIndex(s, d)
    val ivf = Similarity.maintainedIvf(s, d)
    val bm = SearchOps.bm25FromIndex(st, Seq("dup", "window"), 50)
    val ann = Similarity.ivfProbe(ivf, nQueries = 1, k = 50)
      .select(col("neighbor_id").as("doc_id"), col("cosine"))
    fusedRecall10(SearchOps.rrfFuse(bm, ann), SearchOps.rrfFuse(bm, exactDense(s, d)), Nil)
      .orderBy("frk")
  }

  /** The exact dense leg of the vec_id 0 query as (doc_id, cosine):
    * brute-force cosine over every vector — the recall reference only,
    * never a serving path. */
  private def exactDense(s: org.apache.spark.sql.SparkSession, d: String)
      : org.apache.spark.sql.DataFrame =
    Similarity.scoredPairs(s, d, nQueries = 1)
      .select(col("neighbor_id").as("doc_id"), col("cosine"))

  /** Fused-vs-exact recall@10: each ANN-fused row is flagged `in_exact`
    * when the exact-dense fusion also ranks its doc in its top-10, and
    * `recall_10` (the flags' mean per `keys` partition) is attached to
    * every row. */
  private def fusedRecall10(fusedAnn: org.apache.spark.sql.DataFrame,
      fusedExact: org.apache.spark.sql.DataFrame, keys: Seq[String])
      : org.apache.spark.sql.DataFrame = {
    val flagged = fusedAnn
      .join(broadcast(fusedExact.select(col("doc_id").as("e_doc"))),
        col("doc_id") === col("e_doc"), "left")
      .withColumn("in_exact", when(col("e_doc").isNotNull, 1).otherwise(0))
      .drop("e_doc")
    val rec = flagged.groupBy(keys.map(col): _*)
      .agg((sum(col("in_exact")) / lit(10.0)).as("recall_10"))
    if (keys.isEmpty) flagged.crossJoin(broadcast(rec))
    else flagged.join(broadcast(rec), keys)
  }

  /** q227's oracle: the two-epoch-prefix recomputation of BOTH hybrid
    * legs — q216's epoch-prefix discipline applied to q217's fusion.
    * The documents and embeddings prefixes are cut independently by the
    * same slicing formula the ingest uses on each table's own id range;
    * the ANN leg is the probe-1 cluster restriction (c.label = q.label),
    * exactly what [[graft.operators.Similarity.ivfProbeFromSnapshot]]
    * serves. No exact-dense/recall arm here: the gated claim is
    * REPRODUCIBILITY of the released stack (recall quality of the same
    * fusion is already hash-gated by q217/q226 — re-measuring it on the
    * prefix corpus would gate nothing new). */
  private val pinnedHybridOracleSql: String = {
    val dot = Similarity.dotSql("q.v", "c.v")
    s"""WITH b AS (SELECT MIN(doc_id) AS lo, MAX(doc_id) AS hi FROM documents),
       |docs AS (
       |  SELECT d.doc_id, d.text FROM documents d, b
       |  WHERE d.doc_id < b.lo + 2 * ((b.hi - b.lo) // 4 + 1)),
       |eb AS (SELECT MIN(vec_id) AS lo, MAX(vec_id) AS hi FROM embeddings),
       |embp AS (
       |  SELECT e.* FROM embeddings e, eb
       |  WHERE e.vec_id < eb.lo + 2 * ((eb.hi - eb.lo) // 4 + 1)),
       |dl AS (
       |  SELECT doc_id, len(string_split(trim(text), ' ')) AS dl FROM docs),
       |stats AS (
       |  SELECT CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl,
       |         CAST(COUNT(*) AS DOUBLE) AS n FROM dl),
       |tfq AS (
       |  SELECT doc_id, w, CAST(COUNT(*) AS DOUBLE) AS tf
       |  FROM (SELECT doc_id, unnest(string_split(trim(text), ' ')) AS w FROM docs)
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
       |nv AS (SELECT vec_id, label, embedding AS v,
       |         ${Similarity.dotSql("embedding", "embedding")} AS nrm FROM embp),
       |qv AS (SELECT * FROM nv WHERE vec_id = 0),
       |ann AS (
       |  SELECT c.vec_id AS doc_id,
       |    ${Similarity.cosSql(dot, "q.nrm", "c.nrm")} AS cosine
       |  FROM qv q JOIN nv c ON c.label = q.label AND c.vec_id <> q.vec_id),
       |adr AS (SELECT doc_id, rk FROM (
       |  SELECT doc_id, ROW_NUMBER() OVER (ORDER BY cosine DESC, doc_id) AS rk FROM ann)
       |  WHERE rk <= 50),
       |fa AS (
       |  SELECT COALESCE(b.doc_id, a.doc_id) AS doc_id,
       |         CAST(b.rk AS INT) AS bm25_rk, CAST(a.rk AS INT) AS dense_rk,
       |         COALESCE(1.0 / (60 + b.rk), 0.0) + COALESCE(1.0 / (60 + a.rk), 0.0) AS rrf
       |  FROM bmr b FULL OUTER JOIN adr a ON a.doc_id = b.doc_id)
       |SELECT doc_id, bm25_rk, dense_rk, rrf, CAST(frk AS INT) AS frk FROM (
       |  SELECT *, ROW_NUMBER() OVER (ORDER BY rrf DESC, doc_id) AS frk FROM fa)
       |WHERE frk <= 10 ORDER BY frk""".stripMargin
  }

  /** q227: the PINNED retrieval STACK — "re-run yesterday's hybrid"
    * (VERDICT r17 next #1). Both maintained stores (BM25 index + IVF
    * lists) ingest four epochs with the compaction policy FORCED HOT
    * (compactLimit = 2, threaded as parameters), and after epoch 1 ONE
    * coordinated release — [[graft.sources.ReleaseCatalog.pin]], a
    * single durable record binding both stores' pinned versions — marks
    * the stack that served that day. Two further epochs then land on
    * EACH store, every one tripping a real policy compaction whose
    * vacuum reclaims the release's unpinned neighbors. Serving resolves
    * the release and runs q217's fusion with BOTH legs on the pinned
    * snapshots ([[SearchOps.bm25FromSnapshot]] +
    * [[Similarity.ivfProbeFromSnapshot]]); the oracle recomputes both
    * legs monolithically over the two-epoch corpus prefixes — the full
    * retrieval stack reproduces bit-for-bit through live maintenance on
    * every store it spans.
    *
    * Scale posture: a release costs the pinned snapshots' bytes and
    * zero epoch time (the pin contract, 100×-stamped in r17); snapshot
    * reads scan the historical versions' files plainly (audit path);
    * the fusion joins two ≤ 50-row rankings. */
  /** q227's BUILD side: both maintained stores ingested as four epochs
    * with the compaction policy forced hot, and the coordinated release
    * pinned after epoch 1. The gate traces it as its `build` phase,
    * apart from the `serve` phase of [[servePinnedStack]]. Returns the
    * catalog holding the "yesterday" release. */
  private[graft] def buildPinnedStack(s: org.apache.spark.sql.SparkSession,
      d: String, idxRoot: String, ivfRoot: String, catRoot: String)
      : graft.sources.ReleaseCatalog = {
    val docs = Tables.documents(s, d).select("doc_id", "text")
    val vecs = Tables.embeddings(s, d).select("vec_id", "label", "embedding")
    val idxSt = new graft.sources.TableStore(s, idxRoot)
    val ivfSt = new graft.sources.TableStore(s, ivfRoot)
    SearchOps.buildSearchIndex(idxSt, docs.limit(0))
    Similarity.buildIvfStore(ivfSt, vecs.limit(0))
    val cat = new graft.sources.ReleaseCatalog(catRoot, s)
    // each table slices its OWN id range (the q216 cut formula); an
    // empty table simply contributes empty epochs
    val sd = Epochs.slice(docs, col("doc_id"), 4)
    val sv = Epochs.slice(vecs, col("vec_id"), 4)
    Epochs.run(math.max(sd.epochs, sv.epochs)) { e =>
      if (sd.epochs > 0)
        SearchOps.indexIngestEpoch(idxSt, compactLimit = Some(2))(sd.batch(e), e.toLong)
      if (sv.epochs > 0)
        Similarity.ivfIngestEpoch(ivfSt, compactLimit = Some(2))(sv.batch(e), e.toLong)
      // ONE coordinated release across both stores — the snapshot
      // pair that served together, under one durable record
      if (e == 1) cat.pin("yesterday", Seq((idxSt, "index"), (ivfSt, "ivf")))
    }
    if (sd.epochs == 0 && sv.epochs == 0)
      cat.pin("yesterday", Seq((idxSt, "index"), (ivfSt, "ivf")))
    cat
  }

  /** q227's SERVING side: resolve the release and run the fusion with
    * both legs on the pinned snapshots — the read a reproducibility
    * audit actually pays, separable from the build it replays. */
  private[graft] def servePinnedStack(cat: graft.sources.ReleaseCatalog)
      : org.apache.spark.sql.DataFrame = {
    val bm = SearchOps.bm25FromSnapshot(
      cat.tableAt("yesterday", "index"), Seq("dup", "window"), 50)
    val ann = Similarity.ivfProbeFromSnapshot(
      cat.tableAt("yesterday", "ivf"), nQueries = 1, k = 50)
      .select(col("neighbor_id").as("doc_id"), col("cosine"))
    SearchOps.rrfFuse(bm, ann)
  }

  val q227 = QueryDef(
    "q227_pinned_hybrid_stack",
    pinnedHybridOracleSql) { (s0, d) =>
    // batch-bounded epochs: the volume-derived q183 replay width
    val inBytes = EventsOps.planBytes(graft.core.Tables.documents(s0, d)) +
      EventsOps.planBytes(graft.core.Tables.embeddings(s0, d))
    EventsOps.withReplayWidth(s0, inBytes / 4) { s =>
    Resources.scratch("graft-relidx", "graft-relivf", "graft-relcat") { roots =>
      val cat = Trace.phase("build")(buildPinnedStack(s, d,
        roots(0), roots(1), roots(2)))
      // serve reads the pinned store-wide snapshots — full-volume width
      EventsOps.serveWidth(s, inBytes)
      // pinned frame: the store roots are deleted when this returns
      Trace.phase("serve")(Resources.pin(servePinnedStack(cat)))
    }
    }
  }

  /** The hybrid recall dial's oracle: per-nprobe ANN fusions + the
    * exact fusion, flags and per-nprobe recall@10 — all monolithic. */
  private val hybridDialOracleSql: String = {
    val dot = Similarity.dotSql("qv.v", "c.v")
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
       |el AS (
       |  SELECT vec_id, label, i, cast(cast(embedding[i] as double) as decimal(9,7)) AS xd
       |  FROM embeddings, range(1, 65) r(i)),
       |nv AS (${Similarity.normedSql}),
       |qv AS (SELECT * FROM nv WHERE vec_id = 0),
       |np AS (SELECT * FROM (VALUES ${Similarity.ProbeLevels.map(p => s"($p)").mkString(", ")}) v(nprobe)),
       |cent AS (
       |  SELECT label, i, CAST(CAST(SUM(xd) AS DOUBLE) / COUNT(*) AS DECIMAL(9,7)) AS cd
       |  FROM el GROUP BY 1, 2),
       |q0 AS (SELECT i, xd FROM el WHERE vec_id = 0),
       |qd AS (
       |  SELECT c.label, SUM((q.xd - c.cd) * (q.xd - c.cd)) AS d2
       |  FROM q0 q JOIN cent c ON c.i = q.i GROUP BY 1),
       |probes AS (SELECT nprobe, label FROM (
       |  SELECT label, ROW_NUMBER() OVER (ORDER BY d2, label) AS rn FROM qd)
       |  CROSS JOIN np WHERE rn <= nprobe),
       |ann AS (
       |  SELECT p.nprobe, c.vec_id AS doc_id,
       |    ${Similarity.cosSql(dot, "qv.nrm", "c.nrm")} AS cosine
       |  FROM probes p JOIN nv c ON c.label = p.label AND c.vec_id <> 0
       |  CROSS JOIN qv),
       |adr AS (SELECT nprobe, doc_id, rk FROM (
       |  SELECT nprobe, doc_id,
       |         ROW_NUMBER() OVER (PARTITION BY nprobe ORDER BY cosine DESC, doc_id) AS rk
       |  FROM ann) WHERE rk <= 50),
       |ex AS (
       |  SELECT c.vec_id AS doc_id,
       |    ${Similarity.cosSql(dot, "qv.nrm", "c.nrm")} AS cosine
       |  FROM qv JOIN nv c ON c.vec_id <> qv.vec_id),
       |edr AS (SELECT doc_id, rk FROM (
       |  SELECT doc_id, ROW_NUMBER() OVER (ORDER BY cosine DESC, doc_id) AS rk FROM ex)
       |  WHERE rk <= 50),
       |bmn AS (SELECT nprobe, doc_id, rk FROM bmr CROSS JOIN np),
       |fa AS (
       |  SELECT COALESCE(b.nprobe, a.nprobe) AS nprobe,
       |         COALESCE(b.doc_id, a.doc_id) AS doc_id,
       |         CAST(b.rk AS INT) AS bm25_rk, CAST(a.rk AS INT) AS dense_rk,
       |         COALESCE(1.0 / (60 + b.rk), 0.0) + COALESCE(1.0 / (60 + a.rk), 0.0) AS rrf
       |  FROM bmn b FULL OUTER JOIN adr a ON a.nprobe = b.nprobe AND a.doc_id = b.doc_id),
       |fa10 AS (SELECT nprobe, doc_id, bm25_rk, dense_rk, rrf, CAST(frk AS INT) AS frk FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY nprobe ORDER BY rrf DESC, doc_id) AS frk
       |  FROM fa) WHERE frk <= 10),
       |fe AS (
       |  SELECT COALESCE(b.doc_id, e.doc_id) AS doc_id,
       |         COALESCE(1.0 / (60 + b.rk), 0.0) + COALESCE(1.0 / (60 + e.rk), 0.0) AS rrf
       |  FROM bmr b FULL OUTER JOIN edr e ON e.doc_id = b.doc_id),
       |fe10 AS (SELECT doc_id FROM (
       |  SELECT doc_id, ROW_NUMBER() OVER (ORDER BY rrf DESC, doc_id) AS frk FROM fe)
       |  WHERE frk <= 10),
       |flag AS (
       |  SELECT f.nprobe, f.doc_id, f.bm25_rk, f.dense_rk, f.rrf, f.frk,
       |         CASE WHEN e.doc_id IS NOT NULL THEN 1 ELSE 0 END AS in_exact
       |  FROM fa10 f LEFT JOIN fe10 e ON e.doc_id = f.doc_id),
       |rec AS (SELECT nprobe, CAST(SUM(in_exact) AS DOUBLE) / 10.0 AS recall_10
       |        FROM flag GROUP BY 1)
       |SELECT CAST(flag.nprobe AS INT) AS nprobe, doc_id, bm25_rk, dense_rk,
       |       rrf, frk, in_exact, recall_10
       |FROM flag JOIN rec USING (nprobe) ORDER BY nprobe, frk""".stripMargin
  }

  /** q226: the hybrid's RECALL/COST DIAL — q217's fusion swept across
    * the nprobe levels with the dense leg served from the maintained
    * IVF store ([[Similarity.storeMultiprobeScored]]: centroid partials
    * + cluster-pruned list reads): per-nprobe fused top-10 plus its
    * measured recall@10 vs the exact-dense fusion, all hash-gated
    * against the monolithic oracle. This is the end-to-end tuning curve
    * a production retrieval stack actually operates on — widen nprobe
    * until fused recall clears the product bar, pay only the probed
    * clusters' reads. The exact legs are gate armor (q217/q223's
    * discipline). */
  val q226 = QueryDef(
    "q226_hybrid_multiprobe_dial",
    hybridDialOracleSql) { (s, d) =>
    val st = SearchOps.maintainedIndex(s, d)
    val ivf = Similarity.maintainedIvf(s, d)
    // driver-local: reused by every per-nprobe fusion AND the exact fusion
    val bm = SearchOps.bm25FromIndex(st, Seq("dup", "window"), 50)
    val dense = Resources.pin(
      Similarity.storeMultiprobeScored(ivf, nQ = 1)
        .select(col("nprobe"), col("neighbor_id").as("doc_id"), col("cosine")))
    val fusedAnn = Similarity.ProbeLevels.map { np =>
      SearchOps.rrfFuse(bm, dense.filter(col("nprobe") === np)
          .select("doc_id", "cosine"))
        .withColumn("nprobe", lit(np))
    }.reduce(_ unionByName _)
    fusedRecall10(fusedAnn, SearchOps.rrfFuse(bm, exactDense(s, d)), Seq("nprobe"))
      .select(col("nprobe").cast("int").as("nprobe"), col("doc_id"),
        col("bm25_rk"), col("dense_rk"), col("rrf"), col("frk"),
        col("in_exact"), col("recall_10"))
      .orderBy("nprobe", "frk")
  }

  /** q230's oracle: the multi-query dial, monolithic — the q226 fusion
    * CTEs lifted to PARTITION BY query_id (the q89/multiprobe shape),
    * per-(query, nprobe) fused recall@10 plus the per-nprobe MEAN over
    * the query set. Means divide exact integer hit sums once, so the
    * doubles are bit-identical cross-engine. */
  private val hybridDialMultiOracleSql: String = {
    val dot = Similarity.dotSql("qv.v", "c.v")
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
       |el AS (
       |  SELECT vec_id, label, i, cast(cast(embedding[i] as double) as decimal(9,7)) AS xd
       |  FROM embeddings, range(1, 65) r(i)),
       |nv AS (${Similarity.normedSql}),
       |np AS (SELECT * FROM (VALUES ${Similarity.ProbeLevels.map(p => s"($p)").mkString(", ")}) v(nprobe)),
       |qs AS (SELECT DISTINCT vec_id AS query_id FROM embeddings WHERE vec_id < 10),
       |cent AS (
       |  SELECT label, i, CAST(CAST(SUM(xd) AS DOUBLE) / COUNT(*) AS DECIMAL(9,7)) AS cd
       |  FROM el GROUP BY 1, 2),
       |q AS (SELECT * FROM el WHERE vec_id < 10),
       |qd AS (
       |  SELECT q.vec_id AS query_id, c.label, SUM((q.xd - c.cd) * (q.xd - c.cd)) AS d2
       |  FROM q JOIN cent c ON c.i = q.i GROUP BY 1, 2),
       |probes AS (SELECT nprobe, query_id, label FROM (
       |  SELECT query_id, label,
       |         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY d2, label) AS rn
       |  FROM qd) CROSS JOIN np WHERE rn <= nprobe),
       |ann AS (
       |  SELECT p.nprobe, p.query_id, c.vec_id AS doc_id,
       |    ${Similarity.cosSql(dot, "qv.nrm", "c.nrm")} AS cosine
       |  FROM probes p
       |  JOIN (SELECT vec_id, label FROM embeddings) lb
       |    ON lb.label = p.label AND lb.vec_id <> p.query_id
       |  JOIN nv c ON c.vec_id = lb.vec_id
       |  JOIN nv qv ON qv.vec_id = p.query_id),
       |adr AS (SELECT nprobe, query_id, doc_id, rk FROM (
       |  SELECT nprobe, query_id, doc_id,
       |         ROW_NUMBER() OVER (PARTITION BY nprobe, query_id
       |                            ORDER BY cosine DESC, doc_id) AS rk
       |  FROM ann) WHERE rk <= 50),
       |ex AS (
       |  SELECT qv.vec_id AS query_id, c.vec_id AS doc_id,
       |    ${Similarity.cosSql(dot, "qv.nrm", "c.nrm")} AS cosine
       |  FROM nv qv JOIN nv c ON c.vec_id <> qv.vec_id WHERE qv.vec_id < 10),
       |edr AS (SELECT query_id, doc_id, rk FROM (
       |  SELECT query_id, doc_id,
       |         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, doc_id) AS rk
       |  FROM ex) WHERE rk <= 50),
       |bmn AS (SELECT nprobe, query_id, doc_id, rk FROM bmr CROSS JOIN np CROSS JOIN qs),
       |fa AS (
       |  SELECT COALESCE(b.nprobe, a.nprobe) AS nprobe,
       |         COALESCE(b.query_id, a.query_id) AS query_id,
       |         COALESCE(b.doc_id, a.doc_id) AS doc_id,
       |         COALESCE(1.0 / (60 + b.rk), 0.0) + COALESCE(1.0 / (60 + a.rk), 0.0) AS rrf
       |  FROM bmn b FULL OUTER JOIN adr a
       |    ON a.nprobe = b.nprobe AND a.query_id = b.query_id AND a.doc_id = b.doc_id),
       |fa10 AS (SELECT nprobe, query_id, doc_id FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY nprobe, query_id
       |                               ORDER BY rrf DESC, doc_id) AS frk
       |  FROM fa) WHERE frk <= 10),
       |bmq AS (SELECT query_id, doc_id, rk FROM bmr CROSS JOIN qs),
       |fe AS (
       |  SELECT COALESCE(b.query_id, e.query_id) AS query_id,
       |         COALESCE(b.doc_id, e.doc_id) AS doc_id,
       |         COALESCE(1.0 / (60 + b.rk), 0.0) + COALESCE(1.0 / (60 + e.rk), 0.0) AS rrf
       |  FROM bmq b FULL OUTER JOIN edr e
       |    ON e.query_id = b.query_id AND e.doc_id = b.doc_id),
       |fe10 AS (SELECT query_id, doc_id FROM (
       |  SELECT query_id, doc_id,
       |         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY rrf DESC, doc_id) AS frk
       |  FROM fe) WHERE frk <= 10),
       |flag AS (
       |  SELECT f.nprobe, f.query_id,
       |         CASE WHEN e.doc_id IS NOT NULL THEN 1 ELSE 0 END AS hit
       |  FROM fa10 f LEFT JOIN fe10 e
       |    ON e.query_id = f.query_id AND e.doc_id = f.doc_id),
       |rq AS (
       |  SELECT query_id, nprobe, CAST(SUM(hit) AS BIGINT) AS hits,
       |         CAST(SUM(hit) AS DOUBLE) / 10 AS recall_10
       |  FROM flag GROUP BY 1, 2),
       |mq AS (SELECT nprobe, CAST(SUM(hits) AS DOUBLE) / 100.0 AS mean_recall_10
       |       FROM rq GROUP BY 1)
       |SELECT rq.query_id, CAST(rq.nprobe AS INT) AS nprobe, hits, recall_10,
       |       mean_recall_10
       |FROM rq JOIN mq ON mq.nprobe = rq.nprobe
       |ORDER BY rq.query_id, rq.nprobe""".stripMargin
  }

  /** q230: the MULTI-QUERY hybrid dial (VERDICT r17 next #5) — q226's
    * recall/cost curve lifted from a single-query anecdote to the q223
    * query set: per-(query, nprobe) fused recall@10 with the dense leg
    * served from the maintained IVF store at every probe level, plus
    * the per-nprobe MEAN fused recall — the aggregate a platform team
    * actually tunes against. The lexical leg stays the fixed query-term
    * BM25 ranking (one ranking fanned across queries — in production
    * each query carries its own terms, but the dial under test is the
    * DENSE leg's probe width); the exact-dense fusions are gate armor
    * (q217's discipline). Fusion frames are (queries × levels × ≤60)
    * rows — driver-bounded by construction. */
  val q230 = QueryDef(
    "q230_hybrid_dial_multiquery",
    hybridDialMultiOracleSql) { (s, d) =>
    val st = SearchOps.maintainedIndex(s, d)
    val bmr = Resources.pin(Similarity.topK(SearchOps.bm25FromIndex(st, Seq("dup", "window"), 50),
      Nil, "score", "doc_id", 50, "bm25_rk").select("doc_id", "bm25_rk"))
    // one lexical ranking, fanned across every query
    multiQueryDial(s, d, nQ = 10)(qs => qs.crossJoin(bmr))
  }

  /** The multi-query dial body of q230 and q233: the dense leg swept over
    * [[Similarity.ProbeLevels]] from the maintained IVF store, the exact
    * dense leg (gate armor), both fused by [[SearchOps.rrfTop10]] with
    * the lexical leg, then per-(query, nprobe) recall@10 of the ANN
    * fusion against the exact fusion plus the per-nprobe mean. The
    * fusion's query universe is the embedding queries `qs`, and
    * `lexicalOver(qs)` is the lexical leg over it as (query_id, doc_id,
    * bm25_rk). The lexical side is fanned out to every (query, nprobe)
    * key explicitly: a key with no dense candidates must still emit its
    * bm-only fusion, as the oracle does — deriving keys from the dense
    * side would silently drop it. Fusion frames are
    * (queries × levels × ≤60) rows — driver-bounded by construction. */
  private def multiQueryDial(s: org.apache.spark.sql.SparkSession, d: String, nQ: Int)(
      lexicalOver: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val dnr = Resources.pin(Similarity.topK(
        Similarity.storeMultiprobeScored(Similarity.maintainedIvf(s, d), nQ),
        Seq("nprobe", "query_id"), "cosine", "neighbor_id", 50, "dense_rk")
      .select(col("nprobe"), col("query_id"), col("neighbor_id").as("doc_id"),
        col("dense_rk")))
    val edr = Resources.pin(Similarity.topK(Similarity.scoredPairs(s, d, nQ),
        Seq("query_id"), "cosine", "neighbor_id", 50, "dense_rk")
      .select(col("query_id"), col("neighbor_id").as("doc_id"), col("dense_rk")))
    val lex = lexicalOver(edr.select("query_id").distinct())
    val fa10 = SearchOps.rrfTop10(
      lex.withColumn("nprobe", explode(array(Similarity.ProbeLevels.map(lit): _*))),
      dnr, Seq("nprobe", "query_id"))
    val fe10 = SearchOps.rrfTop10(lex, edr, Seq("query_id"))
    val rq = fa10.select("nprobe", "query_id", "doc_id")
      .join(fe10.select(col("query_id"), col("doc_id"), lit(1).as("hit")),
        Seq("query_id", "doc_id"), "left")
      .withColumn("hit", coalesce(col("hit"), lit(0)))
      .groupBy("query_id", "nprobe")
      .agg(sum(col("hit")).as("hits"),
        (sum(col("hit")).cast("double") / 10).as("recall_10"))
    val mq = rq.groupBy("nprobe")
      .agg((sum(col("hits")).cast("double") / (10.0 * nQ)).as("mean_recall_10"))
    rq.join(broadcast(mq), Seq("nprobe"))
      .select(col("query_id"), col("nprobe").cast("int").as("nprobe"),
        col("hits"), col("recall_10"), col("mean_recall_10"))
      .orderBy("query_id", "nprobe")
  }

  /** q233's oracle: q230's multi-query dial with PER-QUERY lexical legs
    * — the term workload derived from the corpus vocabulary (df-ranked,
    * dealt round-robin across queries: ROW_NUMBER() OVER (ORDER BY df
    * DESC, w), query_id = (rn-1) % 10, rn <= 20 — exactly
    * [[SearchOps.termWorkload]]'s rule), per-query tf/df BM25 legs
    * recomputed verbatim, fused per (query, nprobe). Each query's score
    * sums AT MOST TWO term contributions, keeping double summation
    * order-independent cross-engine. */
  private val hybridPerQueryOracleSql: String = {
    val dot = Similarity.dotSql("qv.v", "c.v")
    s"""WITH dl AS (
       |  SELECT doc_id, len(string_split(trim(text), ' ')) AS dl FROM documents),
       |stats AS (
       |  SELECT CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl,
       |         CAST(COUNT(*) AS DOUBLE) AS n FROM dl),
       |tfall AS (
       |  SELECT doc_id, w, CAST(COUNT(*) AS DOUBLE) AS tf
       |  FROM (SELECT doc_id, unnest(string_split(trim(text), ' ')) AS w FROM documents)
       |  GROUP BY 1, 2),
       |vocab AS (SELECT w, CAST(COUNT(*) AS DOUBLE) AS df FROM tfall GROUP BY 1),
       |tmap AS (SELECT CAST((rn - 1) % 10 AS BIGINT) AS query_id, w FROM (
       |  SELECT w, ROW_NUMBER() OVER (ORDER BY df DESC, w) AS rn FROM vocab)
       |  WHERE rn <= 20),
       |tfq AS (
       |  SELECT t.query_id, f.doc_id, f.w, f.tf FROM tfall f JOIN tmap t ON t.w = f.w),
       |bm AS (
       |  SELECT tfq.query_id, tfq.doc_id,
       |    SUM(((stats.n - v.df + 0.5) / (v.df + 0.5)) *
       |        ((tfq.tf * 2.2) /
       |         (tfq.tf + 1.2 * (0.25 + 0.75 * (CAST(dl.dl AS DOUBLE) / stats.avgdl))))) AS score
       |  FROM tfq CROSS JOIN stats
       |  JOIN vocab v ON v.w = tfq.w JOIN dl ON dl.doc_id = tfq.doc_id
       |  GROUP BY 1, 2),
       |bmr AS (SELECT query_id, doc_id, rk FROM (
       |  SELECT query_id, doc_id,
       |         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS rk
       |  FROM bm) WHERE rk <= 50),
       |el AS (
       |  SELECT vec_id, label, i, cast(cast(embedding[i] as double) as decimal(9,7)) AS xd
       |  FROM embeddings, range(1, 65) r(i)),
       |nv AS (${Similarity.normedSql}),
       |np AS (SELECT * FROM (VALUES ${Similarity.ProbeLevels.map(p => s"($p)").mkString(", ")}) v(nprobe)),
       |qs AS (SELECT DISTINCT vec_id AS query_id FROM embeddings WHERE vec_id < 10),
       |cent AS (
       |  SELECT label, i, CAST(CAST(SUM(xd) AS DOUBLE) / COUNT(*) AS DECIMAL(9,7)) AS cd
       |  FROM el GROUP BY 1, 2),
       |q AS (SELECT * FROM el WHERE vec_id < 10),
       |qd AS (
       |  SELECT q.vec_id AS query_id, c.label, SUM((q.xd - c.cd) * (q.xd - c.cd)) AS d2
       |  FROM q JOIN cent c ON c.i = q.i GROUP BY 1, 2),
       |probes AS (SELECT nprobe, query_id, label FROM (
       |  SELECT query_id, label,
       |         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY d2, label) AS rn
       |  FROM qd) CROSS JOIN np WHERE rn <= nprobe),
       |ann AS (
       |  SELECT p.nprobe, p.query_id, c.vec_id AS doc_id,
       |    ${Similarity.cosSql(dot, "qv.nrm", "c.nrm")} AS cosine
       |  FROM probes p
       |  JOIN (SELECT vec_id, label FROM embeddings) lb
       |    ON lb.label = p.label AND lb.vec_id <> p.query_id
       |  JOIN nv c ON c.vec_id = lb.vec_id
       |  JOIN nv qv ON qv.vec_id = p.query_id),
       |adr AS (SELECT nprobe, query_id, doc_id, rk FROM (
       |  SELECT nprobe, query_id, doc_id,
       |         ROW_NUMBER() OVER (PARTITION BY nprobe, query_id
       |                            ORDER BY cosine DESC, doc_id) AS rk
       |  FROM ann) WHERE rk <= 50),
       |ex AS (
       |  SELECT qv.vec_id AS query_id, c.vec_id AS doc_id,
       |    ${Similarity.cosSql(dot, "qv.nrm", "c.nrm")} AS cosine
       |  FROM nv qv JOIN nv c ON c.vec_id <> qv.vec_id WHERE qv.vec_id < 10),
       |edr AS (SELECT query_id, doc_id, rk FROM (
       |  SELECT query_id, doc_id,
       |         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, doc_id) AS rk
       |  FROM ex) WHERE rk <= 50),
       |bmn AS (SELECT nprobe, b.query_id, doc_id, rk
       |        FROM bmr b JOIN qs ON qs.query_id = b.query_id CROSS JOIN np),
       |fa AS (
       |  SELECT COALESCE(b.nprobe, a.nprobe) AS nprobe,
       |         COALESCE(b.query_id, a.query_id) AS query_id,
       |         COALESCE(b.doc_id, a.doc_id) AS doc_id,
       |         COALESCE(1.0 / (60 + b.rk), 0.0) + COALESCE(1.0 / (60 + a.rk), 0.0) AS rrf
       |  FROM bmn b FULL OUTER JOIN adr a
       |    ON a.nprobe = b.nprobe AND a.query_id = b.query_id AND a.doc_id = b.doc_id),
       |fa10 AS (SELECT nprobe, query_id, doc_id FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY nprobe, query_id
       |                               ORDER BY rrf DESC, doc_id) AS frk
       |  FROM fa) WHERE frk <= 10),
       |bmq AS (SELECT b.query_id, doc_id, rk
       |        FROM bmr b JOIN qs ON qs.query_id = b.query_id),
       |fe AS (
       |  SELECT COALESCE(b.query_id, e.query_id) AS query_id,
       |         COALESCE(b.doc_id, e.doc_id) AS doc_id,
       |         COALESCE(1.0 / (60 + b.rk), 0.0) + COALESCE(1.0 / (60 + e.rk), 0.0) AS rrf
       |  FROM bmq b FULL OUTER JOIN edr e
       |    ON e.query_id = b.query_id AND e.doc_id = b.doc_id),
       |fe10 AS (SELECT query_id, doc_id FROM (
       |  SELECT query_id, doc_id,
       |         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY rrf DESC, doc_id) AS frk
       |  FROM fe) WHERE frk <= 10),
       |flag AS (
       |  SELECT f.nprobe, f.query_id,
       |         CASE WHEN e.doc_id IS NOT NULL THEN 1 ELSE 0 END AS hit
       |  FROM fa10 f LEFT JOIN fe10 e
       |    ON e.query_id = f.query_id AND e.doc_id = f.doc_id),
       |rq AS (
       |  SELECT query_id, nprobe, CAST(SUM(hit) AS BIGINT) AS hits,
       |         CAST(SUM(hit) AS DOUBLE) / 10 AS recall_10
       |  FROM flag GROUP BY 1, 2),
       |mq AS (SELECT nprobe, CAST(SUM(hits) AS DOUBLE) / 100.0 AS mean_recall_10
       |       FROM rq GROUP BY 1)
       |SELECT rq.query_id, CAST(rq.nprobe AS INT) AS nprobe, hits, recall_10,
       |       mean_recall_10
       |FROM rq JOIN mq ON mq.nprobe = rq.nprobe
       |ORDER BY rq.query_id, rq.nprobe""".stripMargin
  }

  /** q233: the multi-query hybrid dial with PER-QUERY lexical legs
    * (VERDICT r18 next #1) — q230's one-ranking-fanned-across-queries
    * simplification removed: every query carries its own deterministic
    * term set ([[SearchOps.termWorkload]] — df-ranked vocabulary dealt
    * round-robin, the lexical analog of q223 picking query vectors by
    * vec_id), the lexical leg serves per-query BM25 from the maintained
    * index with posting-file prunes bounded by the workload's own terms
    * ([[SearchOps.bm25PerQueryFromIndex]]), the dense leg sweeps the
    * probe widths from the maintained IVF store, and fusion + recall@10
    * run per (query, nprobe) with the per-nprobe mean over the query
    * set. The oracle recomputes the per-query tf/df legs verbatim.
    *
    * Scale posture: q230's — the posting read schedules only the
    * workload terms' files (one batched scan for the union of the
    * per-query sets), the dense read only the probed clusters' list
    * files; fusion frames are (queries × levels × ≤60) rows. The
    * workload derivation itself is one dictionary aggregate
    * (|vocabulary| result rows) — a statistics read, not a serving
    * read. */
  val q233 = QueryDef(
    "q233_hybrid_perquery_lexical",
    hybridPerQueryOracleSql) { (s, d) =>
    val nQ = 10
    val st = SearchOps.maintainedIndex(s, d)
    val termMap = SearchOps.termWorkload(st, nQ, perQuery = 2)
    val bmr = SearchOps.bm25PerQueryFromIndex(st, termMap, 50)
    // a lexical-workload query with no embedding has no dense universe
    // to fuse against — the oracle joins bmr to qs the same way
    multiQueryDial(s, d, nQ)(qs => bmr.join(qs, Seq("query_id")))
  }

  val all: Seq[QueryDef] = Seq(q217, q226, q227, q230, q233)
}
