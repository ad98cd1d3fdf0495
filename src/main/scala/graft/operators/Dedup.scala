package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{QueryDef, Resources, Tables}
import graft.core.Resources.{collectUnder, pin, MaxBroadcastCandidateDocs}
import graft.functions.TextFunctions._
import graft.obs.Trace

/** Deduplication suite for a training-data pipeline (SURVEY.md §7.1 step 9):
  * exact, n-gram Jaccard, MinHash+LSH, SimHash. Each returns the same
  * shape — duplicate pairs/groups — so a user can swap precision for cost.
  *
  * Scale posture per operator:
  *  - exact: hash-groupBy, one shuffle on the 128-bit digest — linear.
  *  - n-gram Jaccard: exact pairwise verify; candidate generation by
  *    shingle self-join is quadratic in the worst case, so at 100 TB it is
  *    only run on candidates from MinHash banding (q48) — q47 is the
  *    ground-truth variant for small corpora / validation.
  *  - MinHash+LSH: shingle → 16 min-hashes in ONE groupBy pass (16 agg
  *    columns, no repeated scans) → 4 banded bucket keys → bucket
  *    equi-join. Cost ~ O(n · shingles) + O(sum bucket²); the classic
  *    100 TB dedup shape (used by The Pile / RefinedWeb / FineWeb).
  *  - SimHash: 60-bit signature via per-bit weighted sums, banded into 4 ×
  *    15-bit chunks for candidate generation (pigeonhole: hamming ≤ 3 ⇒
  *    some band equal), exact hamming verify via xor+popcount.
  */
object Dedup {

  private def shingleSql =
    """SELECT DISTINCT doc_id, unnest(list_transform(range(1, len(t)-1),
      |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s
      |    FROM (SELECT doc_id, string_split(trim(text), ' ') AS t FROM documents)""".stripMargin

  /** Distinct (doc_id, shingle) pairs — the shared base of q47/q48. */
  private def shingleDf(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .withColumn("t", tokens(col("text")))
      .withColumn("s", explode(shingles3("t")))
      .select("doc_id", "s").distinct()

  /** Exact dedup: group by content digest (md5 of trimmed text), keep the
    * smallest doc_id (the reference's keep-first ROW_NUMBER semantics,
    * All-Tasks-of-SQL.sql:68-77, lifted to content hashing). */
  val q46 = QueryDef(
    "q46_dedup_exact",
    """SELECT md5(trim(text)) AS content_hash, COUNT(*) AS n_copies,
      |  CAST(MIN(doc_id) AS BIGINT) AS keeper_doc_id
      |FROM documents GROUP BY 1 ORDER BY content_hash""".stripMargin) { (s, d) =>
    Tables.documents(s, d)
      .groupBy(md5(trim(col("text"))).as("content_hash"))
      .agg(count(lit(1)).as("n_copies"), min(col("doc_id")).as("keeper_doc_id"))
      .orderBy("content_hash")
  }

  /** Exact n-gram (3-shingle) Jaccard near-dup pairs at threshold 0.8. */
  val q47 = QueryDef(
    "q47_ngram_jaccard",
    s"""WITH sh AS (
       |    $shingleSql),
       |sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
       |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
       |          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2)
       |SELECT doc_a, doc_b,
       |  CAST(i AS DOUBLE) / CAST(sa.n + sb.n - i AS DOUBLE) AS jaccard
       |FROM inter JOIN sizes sa ON sa.doc_id = doc_a JOIN sizes sb ON sb.doc_id = doc_b
       |WHERE CAST(i AS DOUBLE) / CAST(sa.n + sb.n - i AS DOUBLE) >= 0.8
       |ORDER BY doc_a, doc_b""".stripMargin) { (s, d) =>
    assertGroundTruthScale(Tables.documents(s, d).count())
    val sh = shingleDf(s, d).cache()
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val inter = sh.toDF("doc_a", "s")
      .join(sh.toDF("doc_b", "s"), Seq("s"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("i"))
    val jac = col("i").cast("double") /
      (col("na") + col("nb") - col("i")).cast("double")
    inter
      .join(sizes.toDF("doc_a", "na"), Seq("doc_a"))
      .join(sizes.toDF("doc_b", "nb"), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"), jac.as("jaccard"))
      .filter(col("jaccard") >= 0.8)
      .orderBy("doc_a", "doc_b")
  }

  /** Corpus-size ceiling for the quadratic ground-truth variant (q47):
    * its shingle self-join is O(pairs sharing a shingle) — fine for
    * validation corpora, a scale-killer on a real one. Above the limit the
    * caller must use the banded generator ([[lshVerifiedPairs]], q48),
    * whose candidates are bucket-bounded. */
  private[graft] val MaxGroundTruthDocs = 20000L

  /** q112: corpus size below which the count-sketch candidate filter is
    * skipped — its fixed build cost (B counters per doc + sketch-bearing
    * prefix rows) needs a candidate flood to amortize, and floods need
    * corpora (the r8 profile hit 20.6M candidates at 500k docs; sf0.1's
    * 5k docs peak at thousands). The other prunes remain active and
    * lossless at every size, so this only moves work, never answers. */
  private[graft] val SketchMinDocs = 100000L

  private[graft] def assertGroundTruthScale(nDocs: Long): Unit =
    require(nDocs <= MaxGroundTruthDocs,
      s"ngram-Jaccard ground truth is quadratic; corpus has $nDocs docs " +
        s"(max $MaxGroundTruthDocs). Use the MinHash+LSH path (q48 / " +
        "lshVerifiedPairs) for production-scale dedup.")

  private val NumHashes = 16
  private val Bands = 4 // 4 bands × 4 rows

  /** Deterministic 60-bit XOR masks, one per minhash lane: hashing each
    * shingle ONCE and permuting via XOR is the classic cheap minhash
    * family — 16× fewer md5 evaluations than per-seed hashing. Constants
    * derive from md5(lane) so both engines inline identical literals. */
  private[operators] val xorMasks: Seq[Long] = (0 until NumHashes).map { i =>
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(i.toString.getBytes("UTF-8"))
      .map(b => f"${b & 0xff}%02x").mkString
    java.lang.Long.parseLong(hex.take(15), 16)
  }

  /** MinHash signature columns h0..h15: min over shingles of (h60 ⊕ mask). */
  private def minhashAggs: Seq[Column] =
    (0 until NumHashes).map(i => min(expr(s"h ^ ${xorMasks(i)}L")).as(s"h$i"))

  private def mhSelectSql: String = (0 until NumHashes)
    .map(i => s"min(xor(h, ${xorMasks(i)})) AS h$i").mkString(",\n    ")

  private def bandRowsSql: String = (0 until Bands).map { b =>
    val cols = (0 until 4).map(r => s"h${b * 4 + r}").mkString(" || ',' || ")
    s"SELECT doc_id, $b AS band, md5($cols) AS bv FROM mh"
  }.mkString("\n  UNION ALL\n  ")

  /** CTE chain computing banded-LSH verified near-dup pairs, ending in a
    * `verified(doc_a, doc_b, jaccard)` CTE — shared by the q48 oracle and
    * the q71 component oracle (so cluster edges are by construction the
    * exact pairs the LSH detector emits, on both engines). */
  private[operators] val lshPairsCtes: String = {
    val mhSelect = mhSelectSql
    val bandRows = bandRowsSql
    s"""sh AS (
       |    $shingleSql),
       |th AS (SELECT doc_id, ('0x' || substr(md5(s), 1, 15))::BIGINT AS h FROM sh),
       |mh AS (SELECT doc_id, COUNT(*) AS n,
       |    $mhSelect
       |  FROM th GROUP BY doc_id),
       |bands AS (
       |  $bandRows),
       |cand0 AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |          FROM bands a JOIN bands b ON a.band = b.band AND a.bv = b.bv
       |                                   AND a.doc_id < b.doc_id),
       |sizes AS (SELECT doc_id, n FROM mh),
       |cand AS (SELECT doc_a, doc_b FROM cand0
       |         JOIN sizes sa ON sa.doc_id = doc_a JOIN sizes sb ON sb.doc_id = doc_b
       |         WHERE least(sa.n, sb.n) * 5 >= greatest(sa.n, sb.n) * 4),
       |inter AS (SELECT c.doc_a, c.doc_b, COUNT(*) AS i
       |          FROM cand c JOIN sh x ON x.doc_id = c.doc_a
       |                      JOIN sh y ON y.doc_id = c.doc_b AND y.s = x.s
       |          GROUP BY 1, 2),
       |verified AS (
       |  SELECT doc_a, doc_b,
       |    CAST(i AS DOUBLE) / CAST(sa.n + sb.n - i AS DOUBLE) AS jaccard
       |  FROM inter JOIN sizes sa ON sa.doc_id = doc_a JOIN sizes sb ON sb.doc_id = doc_b
       |  WHERE CAST(i AS DOUBLE) / CAST(sa.n + sb.n - i AS DOUBLE) >= 0.8)""".stripMargin
  }

  /** Spark side of [[lshPairsCtes]]: banded-LSH candidates, size-ratio
    * pruned, exact-Jaccard verified at ≥ 0.8 — the scalable (RefinedWeb /
    * FineWeb-shaped) near-dup pair generator, reused by q48 and as the
    * edge source for q71's connected components. Memoized per
    * (session, dir) as parquet ([[Resources.memoFrame]]): q71's fixpoint
    * loop and q131's leak join each consume the pair list, and every
    * consumer reads the stored, candidate-bounded pairs instead of
    * re-running the candidate+verify join tree; the build's shingle and
    * minhash caches are gone once the pairs are written. */
  private[graft] def lshVerifiedPairs(s: SparkSession, d: String): DataFrame =
    Resources.memoFrame(s, d, "graft-lsh-pairs")(path =>
      lshPairsPlan(s, d)(_.write.parquet(path)))

  /** (doc_id, band, bv) band keys of a signature frame carrying h0..h15.
    * ONE scan of the source: the 4 band keys explode from an in-row array
    * — the previous 4-leg union re-executed the source subtree per band,
    * which for q90/q199 meant 4 scans of the stored signatures per
    * reference (part of the r12 regression). */
  private def bandsOf(sig: DataFrame): DataFrame = {
    val bands = array((0 until Bands).map { b =>
      val bv = md5(concat_ws(",", (0 until 4).map(r => col(s"h${b * 4 + r}")): _*))
      struct(lit(b).as("band"), bv.as("bv"))
    }: _*)
    sig.select(col("doc_id"), explode(bands).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.bv").as("bv"))
  }

  /** [[bandsOf]] with the signature's shingle-set size `n` riding along:
    * (doc_id, n, band, bv). The incremental kernel carries sizes on the
    * band stream so candidate pairs arrive with (na, nb) attached and the
    * stored signatures need no second scan for a sizes lookup. */
  private def bandsN(sig: DataFrame): DataFrame = {
    val bands = array((0 until Bands).map { b =>
      val bv = md5(concat_ws(",", (0 until 4).map(r => col(s"h${b * 4 + r}")): _*))
      struct(lit(b).as("band"), bv.as("bv"))
    }: _*)
    sig.select(col("doc_id"), col("n"), explode(bands).as("bk"))
      .select(col("doc_id"), col("n"),
        col("bk.band").as("band"), col("bk.bv").as("bv"))
  }

  // ---- pruned signature-store layout (VERDICT r13 next #1) ------------
  // The incremental/continuous dedup store lays its files out so each
  // per-epoch probe prunes store files via their min/max footer stats
  // (TableStore.scanSkippingIds / scanSkippingIn) instead of streaming
  // the whole store. Two prune keys, chosen by what each probe arrives
  // with:
  //
  //  - SHINGLE-HASH rows (the bulk of the store) sort by RAW doc_id and
  //    are probed with the epoch's candidate doc-id SET. Not a hash
  //    bucket: candidate docs scatter uniformly over any hash space, so
  //    with C candidates every one of B buckets is hit once C ≳ B·ln B —
  //    a bucket column can never prune a realistic batch. Raw-doc_id
  //    intervals prune at FILE granularity instead: a file is read only
  //    if some candidate id lands inside its doc_id range, so files read
  //    ≤ candidate count regardless of store size — candidate-bounded
  //    scan I/O, and near-dup candidates cluster in recent ingests
  //    (boilerplate repeats in time), which doc_id order exploits and a
  //    hash would destroy. Pruning bites once the store outgrows the
  //    batch (files per candidate ≫ 1); the deployment lever is docs per
  //    file.
  //  - BAND rows sort by [[bandBucket]] — (band, bv-prefix) packed into
  //    one long, ORDER-ALIGNED with the (band, bv) join key — and are
  //    probed with the batch's sorted band-key set exactly like the
  //    shingle rows are probed with candidate ids. The r14 design hashed
  //    (band, bv) into 64 fixed buckets, which capped the prune: a batch
  //    whose keys covered all 64 buckets streamed every band-row file
  //    however large the store grew (VERDICT r14 #5). A prefix key has
  //    no bucket ceiling — as the store grows and files multiply, each
  //    file's key range NARROWS, so files read stay bounded by the
  //    batch's band-key count (≤ 4 × batch docs) at any store size.
  //
  // Pruning is LOSSLESS by construction — a stored row that could join a
  // probe key lies in a kept file — and always conservative (files
  // without stats are read).

  /** Prune key of a band row: the band id (2 bits) and the leading 60
    * bits of its hex-md5 band value, packed into one non-negative long.
    * Equal (band, bv) ⇒ equal key, and the key ORDER agrees with
    * (band, bv) order — so a range layout on it gives files disjoint
    * (band, bv)-prefix ranges and the batch's key set prunes them via
    * the same sorted-probe binary search as the doc-id interval prune
    * ([[graft.sources.FileStats.mightContainAnyId]]). Prefix collisions
    * (two bvs sharing 15 hex chars) only ever KEEP an extra file —
    * superset, never loss. */
  private[graft] def bandBucket(band: Column, bv: Column): Column =
    shiftleft(band.cast("long"), 60) +
      conv(substring(bv, 1, 15), 16, 10).cast("long")

  /** Write layout for bucketed store frames: contiguous runs of the sort
    * keys per file, so file-level min/max stats give DISJOINT key ranges.
    * Range partitioning (not coalesce/hash repartition) is what makes
    * skipping work: any layout that spreads every bucket across every
    * file leaves each file's [min, max] covering the whole bucket space
    * and no probe ever prunes. The shuffle it costs is bounded by the
    * frame being written (batch-bounded on every append path). */
  private[graft] def bucketLayout(df: DataFrame, files: Int, keys: String*): DataFrame =
    df.repartitionByRange(files, keys.map(col): _*)
      .sortWithinPartitions(keys.map(col): _*)

  /** `use` over the LSH pair plan, whose shingle and minhash frames are
    * cached while `use` runs and unpersisted after it. [[lshVerifiedPairs]]
    * writes it; plan tests assert on it that the candidate join is
    * banded. */
  private[graft] def lshPairsPlan[A](s: SparkSession, d: String)(use: DataFrame => A): A = {
    val sh = shingleDf(s, d).cache()
    val th = sh.select(col("doc_id"), graft.functions.TextFunctions.hash60(col("s")).as("h"))
    // ONE groupBy computes the 16 signature mins AND the set size — no
    // second aggregation pass over the shingle base
    val mh = th.groupBy("doc_id")
      .agg(count(lit(1)).as("n"), minhashAggs: _*)
      .cache()
    val bands = bandsOf(mh)
    val cand0 = bands.toDF("doc_a", "band", "bv")
      .join(bands.toDF("doc_b", "band", "bv"), Seq("band", "bv"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
    val sizes = mh.select("doc_id", "n")
    // size-ratio prefilter: jaccard >= 0.8 implies min·5 >= max·4, so
    // this prunes candidates without changing the result set. No broadcast
    // hint: `sizes` is one row per corpus document — forcing it to the
    // driver is exactly the OOM a 100 TB corpus cannot afford; these are
    // candidate-bounded equi-joins and AQE still broadcasts when small.
    val cand = cand0
      .join(sizes.toDF("doc_a", "na"), Seq("doc_a"))
      .join(sizes.toDF("doc_b", "nb"), Seq("doc_b"))
      .filter(least(col("na"), col("nb")) * 5 >= greatest(col("na"), col("nb")) * 4)
      .select("doc_a", "doc_b")
    val inter = cand
      .join(sh.toDF("doc_a", "s"), Seq("doc_a"))
      .join(sh.toDF("doc_b", "s"), Seq("doc_b", "s"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("i"))
    val jac = col("i").cast("double") /
      (col("na") + col("nb") - col("i")).cast("double")
    try use(inter
      .join(sizes.toDF("doc_a", "na"), Seq("doc_a"))
      .join(sizes.toDF("doc_b", "nb"), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"), jac.as("jaccard"))
      .filter(col("jaccard") >= 0.8))
    finally { mh.unpersist(); sh.unpersist(); () }
  }

  /** MinHash + LSH banding near-dup pairs, verified with exact Jaccard. */
  val q48 = QueryDef(
    "q48_minhash_lsh",
    s"""WITH $lshPairsCtes
       |SELECT doc_a, doc_b, jaccard FROM verified
       |ORDER BY doc_a, doc_b""".stripMargin) { (s, d) =>
    lshVerifiedPairs(s, d).orderBy("doc_a", "doc_b")
  }

  /** SimHash near-dup pairs: 60-bit signatures, 4×15-bit bands, hamming ≤ 6
    * verified by xor+popcount over the band chunks. */
  val q49 = {
    // per (doc, bit) weighted sum, then pack sign bits into 15-bit bands
    QueryDef(
      "q49_simhash",
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(trim(text), ' ')) AS w FROM documents),
        |th AS (SELECT doc_id, ('0x' || substr(md5(w), 1, 15))::BIGINT AS h FROM tok),
        |bits AS (
        |  SELECT doc_id, b,
        |    SUM(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS wsum
        |  FROM th, range(60) r(b) GROUP BY 1, 2),
        |sig AS (
        |  SELECT doc_id,
        |    CAST(SUM(CASE WHEN b < 15 AND wsum > 0 THEN (1::BIGINT << b) ELSE 0 END) AS BIGINT) AS band0,
        |    CAST(SUM(CASE WHEN b >= 15 AND b < 30 AND wsum > 0 THEN (1::BIGINT << (b - 15)) ELSE 0 END) AS BIGINT) AS band1,
        |    CAST(SUM(CASE WHEN b >= 30 AND b < 45 AND wsum > 0 THEN (1::BIGINT << (b - 30)) ELSE 0 END) AS BIGINT) AS band2,
        |    CAST(SUM(CASE WHEN b >= 45 AND wsum > 0 THEN (1::BIGINT << (b - 45)) ELSE 0 END) AS BIGINT) AS band3
        |  FROM bits GROUP BY doc_id),
        |pairs AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    bit_count(xor(a.band0, b.band0)) + bit_count(xor(a.band1, b.band1))
        |      + bit_count(xor(a.band2, b.band2)) + bit_count(xor(a.band3, b.band3)) AS hamming
        |  FROM sig a JOIN sig b ON a.doc_id < b.doc_id
        |    AND (a.band0 = b.band0 OR a.band1 = b.band1 OR a.band2 = b.band2 OR a.band3 = b.band3))
        |SELECT doc_a, doc_b, CAST(hamming AS INT) AS hamming FROM pairs
        |WHERE hamming <= 6 ORDER BY doc_a, doc_b""".stripMargin) { (s, d) =>
      // one groupBy pass with 60 per-bit weighted-sum aggregate columns —
      // no 60× row explosion, the shuffle carries one row per doc
      val bitSums = (0 until 60).map(b =>
        sum(when(expr(s"shiftright(h, $b) & 1") === 1, 1).otherwise(-1)).as(s"s$b"))
      val sums = Tables.documents(s, d)
        .withColumn("w", explode(tokens(col("text"))))
        .select(col("doc_id"), hash60(col("w")).as("h"))
        .groupBy("doc_id")
        .agg(bitSums.head, bitSums.tail: _*)
      def band(j: Int): Column =
        expr((0 until 15).map(k =>
          s"(CASE WHEN s${15 * j + k} > 0 THEN ${1L << k}L ELSE 0L END)").mkString(" + "))
          .cast("long").as(s"band$j")
      val sig = sums.select(col("doc_id"), band(0), band(1), band(2), band(3)).cache()
      // candidate generation: "any band equal" as a UNION of per-band
      // equi-joins (the q48 banding shape). An OR-of-equalities join
      // condition is not hash-joinable — Catalyst would plan a nested
      // loop over all doc pairs — whereas each banded frame joins on
      // (band, value) with an ordinary shuffle/hash join.
      val bandsDf = (0 until 4).map { j =>
        sig.select(col("doc_id"), lit(j).as("band"), col(s"band$j").as("bv"))
      }.reduce(_ unionByName _)
      val cand = bandsDf.toDF("doc_a", "band", "bv")
        .join(bandsDf.toDF("doc_b", "band", "bv"), Seq("band", "bv"))
        .filter(col("doc_a") < col("doc_b"))
        .select("doc_a", "doc_b").distinct()
      val hamming = (0 until 4).map(j =>
        bit_count(col(s"a$j").bitwiseXOR(col(s"b$j")))).reduce(_ + _)
      cand
        .join(sig.toDF("doc_a", "a0", "a1", "a2", "a3"), Seq("doc_a"))
        .join(sig.toDF("doc_b", "b0", "b1", "b2", "b3"), Seq("doc_b"))
        .select(col("doc_a"), col("doc_b"), hamming.cast("int").as("hamming"))
        .filter(col("hamming") <= 6)
        .orderBy("doc_a", "doc_b")
    }
  }

  // ---- incremental dedup against a persisted signature store (q90) ----

  /** Distinct (doc_id, shingle-hash) rows of a documents frame — the
    * hashed-universe sibling of [[shingleDf]]: incremental verification
    * joins stored HASHES (compact, persistable) instead of raw shingle
    * strings, and both the Spark path and the oracle work in the same
    * hashed universe so Jaccard counts agree exactly. */
  private def shingleHashes(docs: DataFrame): DataFrame =
    docs.withColumn("t", tokens(col("text")))
      .withColumn("s", explode(shingles3("t")))
      .select(col("doc_id"), graft.functions.TextFunctions.hash60(col("s")).as("h"))
      .distinct()

  /** (sig, shh) signature frames of a documents frame — sig = (doc_id, n,
    * h0..h15) minhash signatures, shh = (doc_id, h) distinct shingle
    * hashes (the verification set). */
  private[graft] def signatureFrames(docs: DataFrame): (DataFrame, DataFrame) = {
    val th = shingleHashes(docs)
    (th.groupBy("doc_id").agg(count(lit(1)).as("n"), minhashAggs: _*), th)
  }

  /** Persist the corpus side of incremental dedup into `st`. Built ONCE
    * per corpus; daily batches then dedupe against these parquet tables
    * without ever re-reading corpus text. Layout (the pruned store,
    * VERDICT r13 #1): `shh` = (doc_id, h) shingle hashes range-laid-out
    * on raw doc_id (candidate-id file pruning, see the layout note
    * above), `bands` = (doc_id, n, band, bv, bkt) precomputed band rows
    * range-laid-out on their band bucket — so [[incrementalLshPairs]]'s
    * per-batch probes file-prune — plus `sig` = raw (doc_id, n, h0..h15)
    * signatures (the recoverable source of both, and the sink's
    * membership marker). */
  private[graft] def buildSignatureStore(st: graft.sources.TableStore,
                                         corpus: DataFrame): Unit = {
    val (sig, shh) = signatureFrames(corpus)
    sig.persist(); shh.persist()
    try {
      st.create("shh", sinkShhLayout(shh))
      st.create("bands", sinkBandsLayout(sig))
      st.create("sig", sig)
    } finally { sig.unpersist(); shh.unpersist(); () }
  }

  /** Write layouts for the store's `shh`/`bands` tables (creates AND the
    * sink's appends — same expressions both places, so every file in the
    * append chain keeps a contiguous key range and stays prunable). */
  private[graft] def sinkShhLayout(shh: DataFrame): DataFrame =
    bucketLayout(shh.select("doc_id", "h"), 8, "doc_id")
  private[graft] def sinkBandsLayout(sig: DataFrame): DataFrame =
    bucketLayout(
      bandsN(sig).withColumn("bkt", bandBucket(col("band"), col("bv"))),
      8, "bkt")

  /** Periodic maintenance for an incremental signature store
    * ([[buildSignatureStore]]'s layout, the sink's tables) or a q199
    * state table: collapse each table's append chain while RESTORING its
    * prune layout (TableStore.compactClustered). A plain compact would
    * merge the per-epoch key-sorted files into files whose min/max stats
    * span the whole key space — value-correct, but every later epoch's
    * store read silently degrades to a full scan. `minFiles` keeps
    * per-file key ranges narrow at bench scale; a deployment sizes it
    * with the same docs-per-file rule as the write layouts. The batch
    * ledger survives compaction, so replayed epochs still no-op.
    *
    * `minFiles` ≤ 0 self-sizes per table: half the table's current file
    * count, floored at [[StateFilesFloor]] — chain collapse at
    * comparable prune width, so an operator (or the auto-compaction
    * policy) calling with no tuning never silently widens files past
    * what the probes can skip. An explicit positive value wins. */
  def compactSignatureStore(st: graft.sources.TableStore,
                            minFiles: Int = 0): Unit = {
    def width(name: String): Int =
      if (minFiles > 0) minFiles
      else math.max(StateFilesFloor, st.fileCount(name) / 2)
    if (st.exists("state")) {
      collapseMappingChains(st)
      st.compactClustered("state", Seq("kind", "bkt", "doc_id"), width("state")); ()
    }
    if (st.exists("shh")) {
      st.compactClustered("shh", Seq("doc_id"), width("shh")); ()
    }
    if (st.exists("bands")) {
      st.compactClustered("bands", Seq("bkt"), width("bands")); ()
    }
    if (st.exists("sig")) { st.compact("sig"); () }
    if (st.exists("corpus")) { st.compact("corpus"); () }
  }

  /** Collapse kind-5 merge-mapping chains to single hops: rewrite every
    * mapping row to point straight at its chain ROOT (the undirected
    * closure's min — merges always adopt the smaller component id, so
    * the min IS the directed chain's endpoint). Run by
    * [[compactSignatureStore]] before the state rewrite, so compaction
    * genuinely shortens chains — the remedy
    * [[resolveThroughMappings]]' non-convergence error prescribes
    * (ADVICE r15 #1: previously compaction preserved kind-5 rows
    * verbatim and nothing ever shortened a chain). Readers are
    * unaffected semantically: they resolve the closure anyway, and a
    * collapsed chain resolves to the same root in one hop. Duplicate
    * (old, root) rows left by re-emitted mappings are harmless — every
    * reader dedups or takes min. No-ops unless a >= 2-hop chain exists
    * (one semi-join probe over the tiny kind-5 slice), so routine
    * compactions never pay the rewrite. */
  private def collapseMappingChains(st: graft.sources.TableStore): Unit = {
    val m = pin(stateMappings(st.table("state")))
    val hasChain = m.select(col("new_comp").as("k"))
      .join(m.select(col("old_comp").as("k")), Seq("k"), "left_semi")
      .limit(1).count() > 0
    if (!hasChain) return
    val closure = DedupClusters.propagateMin(
      m.select(col("old_comp").as("src"), col("new_comp").as("dst"))
        .unionByName(m.select(col("new_comp").as("src"), col("old_comp").as("dst"))))
    val roots = pin(m.select(col("old_comp")).distinct()
      .join(closure.toDF("old_comp", "root"), Seq("old_comp"))
      .select(lit(5).as("kind"), col("old_comp").as("doc_id"),
        col("root").as("root_h")))
    // The "undirected min = directed endpoint" equivalence rests on the
    // merge invariant that every mapping adopts the SMALLER component id;
    // under it the closure min is strictly below every rewritten
    // old_comp. Assert it on the (tiny, pinned) rewrite set so a future
    // violation fails loudly at compaction instead of silently changing
    // labels (ADVICE r16).
    val bad = roots.filter(col("root_h") >= col("doc_id")).limit(1).count()
    if (bad > 0) throw new IllegalStateException(
      "collapseMappingChains: merge-order invariant violated (closure min " +
        ">= old component id); refusing to rewrite kind-5 mappings")
    st.updateFrom("state", roots, Seq("kind", "doc_id"),
      Map("h" -> col("root_h")))
  }

  /** Sorted distinct band prune keys ([[bandBucket]]) of a batch's
    * signatures — the probe set for the stored band rows' file prune.
    * One batch-bounded driver job (≤ 4 × batch docs rows — the same
    * bound as the batch's own band stream); it doubles as the job that
    * populates the caller's persisted `newSig` cache, work every epoch
    * pays anyway. */
  private def batchBandKeys(newSig: DataFrame): Array[Long] = {
    val keys = bandsN(newSig).select(bandBucket(col("band"), col("bv")).as("bkt"))
      .distinct().collect().map(_.getLong(0))
    java.util.Arrays.sort(keys)
    keys
  }

  /** ONE bounded collect of the batch's band rows (doc_id, n, band, bv):
    * returns the sorted bucket keys for the store-side file prune
    * (driver arithmetic — exactly the [[bandBucket]] expression) and the
    * rows as a LOCAL relation for the kernel's probe/stream legs. The
    * batch bands were already collected per epoch for the keys; reusing
    * the rows makes every re-plan of the kernel's broadcast probe side
    * driver-only (a LocalTableScan broadcast launches no job), cutting
    * the per-epoch job count. None when the batch exceeds the ceiling
    * (in rows, or in bytes: each row carries a 32-char md5) — callers
    * fall back to the distributed keys collect and in-flight
    * band computation (the skew trade). */
  private def batchBandsLocal(s: SparkSession, newSig: DataFrame,
      ceiling: Long = MaxBroadcastCandidateDocs)
      : Option[(Array[Long], DataFrame)] = {
    val plan = bandsN(newSig)
    collectUnder(plan, ceiling).map { rows =>
      val keySet = new scala.collection.mutable.LongMap[Boolean]()
      rows.foreach { r =>
        val k = (r.getInt(2).toLong << 60) +
          java.lang.Long.parseLong(r.getString(3).substring(0, 15), 16)
        keySet.update(k, true)
      }
      val keys = new Array[Long](keySet.size)
      var i = 0
      keySet.foreach { case (k, _) => keys(i) = k; i += 1 }
      java.util.Arrays.sort(keys)
      (keys, s.createDataFrame(java.util.Arrays.asList(rows: _*), plan.schema))
    }
  }

  /** Incremental near-dup pairs (VERDICT r2 #6): dedupe `newDocs` against
    * the persisted signature store AND within itself. The 100 TB daily
    * shape: shingle/minhash work is proportional to the BATCH, the corpus
    * contributes parquet scans of its stored signatures and shingle
    * hashes; corpus text is never touched (the function does not even
    * receive it). Candidates come from the same 4×4 banding as q48 —
    * every band join is an equi-join on (band, bv) — with the new side
    * always the batch, then size-ratio pruning and exact hashed-Jaccard
    * verification at ≥ 0.8. Corpus↔corpus pairs are excluded by
    * construction (the stored corpus is already deduplicated). */
  private[graft] def incrementalLshPairs(s: SparkSession,
                                         store: graft.sources.TableStore,
                                         newDocs: DataFrame): DataFrame = {
    // persist the batch frames: the kernel materializes three cached
    // intermediates (one action each) plus the pairs checkpoint, and
    // without a cache each action would re-shingle the batch from scratch
    // (tokenize + explode + minhash — the batch-proportional hot step)
    val newTh = shingleHashes(newDocs).persist()
    val newSig = newTh.groupBy("doc_id")
      .agg(count(lit(1)).as("n"), minhashAggs: _*).persist()
    try {
      val k =
        if (store.exists("bands")) {
          // pruned store (buildSignatureStore's layout): both per-batch
          // store reads file-prune — bands on the batch's sorted band
          // keys, shingle hashes on the candidate doc-id set. Both are
          // SUPERSET reads (no row predicate over the probe set — see
          // scanSkippingIds): the kernel's band equi-join / candidate
          // semi-join restrict exactly.
          val bbl = batchBandsLocal(s, newSig)
          val (bands, bandRep) = store.scanSkippingIds("bands", Nil,
            "bkt", bbl.map(_._1).getOrElse(batchBandKeys(newSig)))
          Trace.storeRead("bands", bandRep)
          incrementalLshKernelPruned(s, bands, {
            case Some(ids) =>
              val (th, rep) = store.scanSkippingIds("shh", Nil, "doc_id", ids)
              Trace.storeRead("shh", rep)
              th.select(col("doc_id"), col("h"))
            case None => store.table("shh").select(col("doc_id"), col("h"))
          }, newSig, newTh, batchBands = bbl.map(_._2))
        } else
          // legacy two-table layout (no band rows stored): compute band
          // keys in-flight; old shh tables may carry q199-era cut-verdict
          // sentinels (h NULL) — dropped so the verify join sees only
          // real hashes
          incrementalLshKernel(s, store.table("sig"),
            store.table("shh").filter(col("h").isNotNull), newSig, newTh)
      // eager pin: the pair set is tiny (≥ 0.8-verified) and the caller
      // must inherit no live reference to the kernel caches. The
      // single-JVM-vs-cluster trade lives in [[Resources.pin]]: local
      // blocks by default, a reliable checkpoint when
      // spark.graft.checkpointDir is set.
      try pin(k.pairs) finally k.release()
    } finally { newSig.unpersist(); newTh.unpersist(); () }
  }

  /** One kernel call's candidate-bounded intermediates (persisted unless
    * built in shape-test mode) plus the lazy verified-pairs frame over
    * them. `candCount` is the distinct candidate-doc cardinality the
    * materialized kernel counted for its broadcast guard (None in shape
    * mode) — callers reuse it to self-size their store writes
    * ([[sizedStateFiles]]) without paying a second job. [[release]]
    * drops the caches — safe once `pairs` has been checkpointed or
    * fully consumed. */
  private[graft] final case class IncrementalLshKernel(
      cand0: DataFrame, candTh: DataFrame, pairs: DataFrame,
      candCount: Option[Long] = None) {
    def release(): Unit = {
      cand0.unpersist(); candTh.unpersist(); ()
    }
  }

  /** [[incrementalLshKernelPruned]] over plain signature frames — the
    * compatibility seam for callers (and plan specs) holding a raw
    * (doc_id, n, h0..h15) signature frame and a (doc_id, h) hash frame:
    * band keys are computed in-flight via [[bandsN]] and the hash frame
    * is used unpruned. The production paths (q90 store, q199 state table)
    * instead pass PRE-STORED band rows and bucket-pruned readers. */
  private[graft] def incrementalLshKernel(s: SparkSession,
      storedSig: DataFrame, storedTh: DataFrame,
      newSig: DataFrame, newTh: DataFrame,
      materialize: Boolean = true,
      maxBroadcastCand: Long = MaxBroadcastCandidateDocs): IncrementalLshKernel =
    incrementalLshKernelPruned(s, bandsN(storedSig),
      _ => storedTh.select(col("doc_id"), col("h")), newSig, newTh,
      materialize, maxBroadcastCand)

  /** The incremental-dedup kernel. Inputs from the store side:
    * `storedBands` = the stored (doc_id, n, band, bv) band rows (the
    * caller may pre-prune them to the batch's band buckets — pruning is
    * lossless, see the pruned-layout note above), and `storedThFor` = a
    * reader of the stored (doc_id, h) shingle hashes given the CANDIDATE
    * doc-id set, sorted ascending (`None` = set unknown or over the
    * broadcast ceiling, read everything — the shape-mode/compat/skew
    * contract; `Some(ids)` may prune store files to those containing a
    * candidate id — the reader returns a SUPERSET of the candidates'
    * rows, which the kernel's own semi-join then restricts exactly).
    *
    * Scale invariants:
    *
    *  1. STORE-PROPORTIONAL ROWS NEVER ENTER A SHUFFLE EXCHANGE (VERDICT
    *     r11 #2). Candidate generation broadcasts the BATCH's band keys
    *     (4 rows per batch doc) against the stored∪batch band stream;
    *     everything downstream is first semi-join-pruned to candidate doc
    *     ids via a broadcast of `candDocs`, so only candidate-bounded
    *     rows reach the remaining equi-joins and aggregations.
    *  2. THE KERNEL SCANS THE STORE EXACTLY TWICE PER CALL (VERDICT r12
    *     #1): once building `cand0` (stored band rows), once building
    *     `candTh` (stored shingle hashes). A store-backed SINK pays one
    *     more outside the kernel — the membership anti-join that drops
    *     already-published batch docs (DedupIngest) — for 3 per epoch
    *     total on that path; the q199 state path pays exactly the
    *     kernel's 2. The r12 lesson: invariant 1 alone is NOT enough —
    *     broadcast-probe streaming has no materialization boundary, so
    *     every downstream reference to a frame re-executes its whole
    *     store-scan subtree (~8-9 scans per action; q199 went 16.4 →
    *     124.0 s at sf0.1). Each candidate-bounded intermediate is
    *     therefore `persist()`ed: cand0 materializes under the
    *     broadcast-guard job, candTh populates in-flight during the
    *     pairs job (block-level locks dedupe concurrent computes), so the
    *     pairs job triggers its store scan at most once.
    *     IncrementalPlanSpec asserts both invariants on the plans.
    *  3. THE TWO STORE SCANS ARE FILE-PRUNED, NOT FULL READS (VERDICT r13
    *     #1), when the caller stores pruned layouts: the band scan
    *     receives only files overlapping the batch's band buckets, and
    *     `storedThFor` receives the candidate doc-id set — collected off
    *     the cached cand0 right after the job that guards the broadcast
    *     hint (bounded by the same ceiling, so never a driver OOM), and
    *     also reused as the candDocs broadcast itself, a LOCAL relation
    *     that frees the semi-joins from any store-rooted broadcast
    *     subtree. Per-epoch shingle-store I/O is then CANDIDATE-bounded
    *     (files read ≤ candidate count however large the store), and
    *     the band read is bounded the same way by the batch's band-key
    *     count — the bkt prune key is order-aligned with (band, bv),
    *     so there is no bucket ceiling (see the layout note above).
    *
    * `materialize = false` is the spec seam: build the same dataflow
    * without caching (and without driver-side jobs) so plan shapes stay
    * inspectable as raw trees. `maxBroadcastCand` overrides the
    * broadcast-guard ceiling so specs can force (and verify) the
    * un-hinted skew-fallback path. */
  /** `batchBands`: the batch's band rows pre-collected as a LOCAL
    * relation ([[batchBandsLocal]]) — the broadcast probe side then
    * re-plans without launching jobs. None computes them in-flight. */
  private[graft] def incrementalLshKernelPruned(s: SparkSession,
      storedBands: DataFrame,
      storedThFor: Option[Array[Long]] => DataFrame,
      newSig: DataFrame, newTh: DataFrame,
      materialize: Boolean = true,
      maxBroadcastCand: Long = MaxBroadcastCandidateDocs,
      batchBands: Option[DataFrame] = None): IncrementalLshKernel = {
    // persist WITHOUT an eager count: the first consuming job populates
    // each cache in-flight, and the block manager's per-partition locks
    // make concurrent consumers wait-and-read instead of recompute — so
    // each intermediate's store scan still executes exactly once per
    // epoch, without paying a scheduling barrier per intermediate
    def ready(df: DataFrame): DataFrame = if (!materialize) df else df.persist()
    // batch bands join ALL bands (stored ∪ batch): each candidate pair has
    // ≥ 1 batch endpoint; least/greatest normalizes new-new double hits.
    // The broadcast side is the BATCH (micro-batch-bounded by contract),
    // never the store.
    // the band stream carries each signature's shingle-set size, so
    // candidate pairs arrive with (na, nb) attached — the stored band
    // rows are read ONCE per epoch, and the size-ratio prune and the
    // Jaccard denominator need no sizes lookup at all
    val bb = batchBands.getOrElse(bandsN(newSig))
    val allBands = storedBands.select("doc_id", "n", "band", "bv")
      .unionByName(bb)
    val cand0 = ready(allBands.toDF("da", "sa", "band", "bv")
      .join(broadcast(bb.toDF("db", "sb", "band", "bv")),
        Seq("band", "bv"))
      .filter(col("da") =!= col("db"))
      .select(least(col("da"), col("db")).as("doc_a"),
        greatest(col("da"), col("db")).as("doc_b"),
        when(col("da") < col("db"), col("sa")).otherwise(col("sb")).as("na"),
        when(col("da") < col("db"), col("sb")).otherwise(col("sa")).as("nb"))
      .distinct())
    // size-ratio prefilter: jaccard >= 0.8 implies min·5 >= max·4 — prunes
    // candidates (and therefore the verification set) without changing
    // the result
    val cand = cand0
      .filter(least(col("na"), col("nb")) * 5 >= greatest(col("na"), col("nb")) * 4)
    // candidate doc ids (cheap off the cached cand0): semi-join prune that
    // keeps the store-wide hash frame on a scan-and-stream path. explode,
    // not a self-union: ONE reference to cand0, so downstream plans carry
    // one copy of its subtree.
    val candDocsBase = cand
      .select(explode(array(col("doc_a"), col("doc_b"))).as("doc_id"))
      .distinct()
    // The kernel's scheduling barrier and cand0's materializing action:
    // count the distinct candidate docs to guard the broadcast hint (see
    // MaxBroadcastCandidateDocs). Under the ceiling, a second small job
    // off the now-cached cand0 collects the ids themselves — they become
    // BOTH the stored-hash file prune and the candDocs broadcast (a local
    // relation: the driver holds the ids either way, and a local
    // broadcast keeps every store-rooted subtree out of the semi-joins).
    // Over the ceiling (band-value skew), neither collect runs: the
    // semi-joins degrade to shuffles and the store read goes unpruned —
    // the documented skew trade.
    val (candDocs, candIds, candCount) =
      if (!materialize) (broadcast(candDocsBase), None, None)
      else {
        // ONE bounded collect replaces the count-then-collect pair: a
        // LIMIT of ceiling+1 proves which side of the ceiling we are on
        // AND returns the ids when under it (driver memory bound is the
        // same ceiling the collect always had). Over the ceiling — the
        // rare band-skew fallback — the exact count still runs (the
        // write layouts size from it); that path pays the limit scan
        // PLUS the count, one job more than the old pair — the accepted
        // trade for the common under-ceiling case (ADVICE r19). Note
        // CollectLimitExec may take several scale-up waves on a
        // many-partition frame, so "one job" is the under-ceiling norm,
        // not a guarantee.
        collectUnder(candDocsBase, maxBroadcastCand) match {
          case Some(rows) =>
            val probe = rows.map(_.getLong(0))
            val n = probe.length.toLong
            Trace.record(Trace.Candidates(n))
            java.util.Arrays.sort(probe)
            import s.implicits._
            (broadcast(probe.toSeq.toDF("doc_id")), Some(probe), Some(n))
          case None =>
            val n = candDocsBase.count()
            Trace.record(Trace.Candidates(n))
            (candDocsBase, None, Some(n))
        }
      }
    // verification set = stored corpus hashes ∪ batch hashes, pruned to
    // candidate docs BEFORE any join — the stored shingle hashes (the
    // bulk of the state) stream through their (bucket-pruned) scan once,
    // into the cache both verify legs read
    val candTh = ready(storedThFor(candIds).unionByName(newTh)
      .join(candDocs, Seq("doc_id"), "left_semi"))
    // countDistinct (not count) keeps the intersection exact even if a
    // doc's hashes appear on both sides — a replayed epoch recomputes a
    // batch whose rows already persisted — and the distinct is bounded by
    // candidate volume, never corpus size. na/nb ride through as
    // (functionally determined) grouping keys.
    val inter = cand
      .join(candTh.toDF("doc_a", "h"), Seq("doc_a"))
      .join(candTh.toDF("doc_b", "h"), Seq("doc_b", "h"))
      .groupBy("doc_a", "doc_b", "na", "nb")
      .agg(countDistinct(col("h")).as("i"))
    val jac = col("i").cast("double") /
      (col("na") + col("nb") - col("i")).cast("double")
    val pairs = inter
      .select(col("doc_a"), col("doc_b"), jac.as("jaccard"))
      .filter(col("jaccard") >= 0.8)
    IncrementalLshKernel(cand0, candTh, pairs, candCount)
  }

  /** The q90 signature store for `d` (corpus = doc_id % 5 ≠ 0),
    * memoized per session. */
  private def corpusStore(s: SparkSession, d: String): graft.sources.TableStore =
    Resources.store(s, d, "graft-sigstore") { st =>
      buildSignatureStore(st, Tables.documents(s, d).filter(col("doc_id") % 5 =!= 0))
    }

  /** Incremental dedup gate: corpus = doc_id % 5 ≠ 0 (signatures persisted
    * once), batch = doc_id % 5 = 0 (the "daily delta"). The oracle
    * recomputes everything monolithically — semantics, not architecture —
    * and restricts to pairs touching the batch; the Spark side runs the
    * true delta flow against the stored tables. IncrementalDedupSpec
    * proves the corpus text is not consulted at query time. */
  val q90 = QueryDef(
    "q90_incremental_dedup",
    s"""WITH sh AS (
       |    $shingleSql),
       |th AS (SELECT DISTINCT doc_id, ('0x' || substr(md5(s), 1, 15))::BIGINT AS h FROM sh),
       |mh AS (SELECT doc_id, COUNT(*) AS n,
       |    $mhSelectSql
       |  FROM th GROUP BY doc_id),
       |bands AS (
       |  $bandRowsSql),
       |cand0 AS (
       |  SELECT DISTINCT least(a.doc_id, b.doc_id) AS doc_a,
       |         greatest(a.doc_id, b.doc_id) AS doc_b
       |  FROM bands a JOIN bands b ON a.band = b.band AND a.bv = b.bv
       |                           AND a.doc_id <> b.doc_id
       |  WHERE b.doc_id % 5 = 0),
       |sizes AS (SELECT doc_id, n FROM mh),
       |cand AS (SELECT doc_a, doc_b FROM cand0
       |         JOIN sizes sa ON sa.doc_id = doc_a JOIN sizes sb ON sb.doc_id = doc_b
       |         WHERE least(sa.n, sb.n) * 5 >= greatest(sa.n, sb.n) * 4),
       |inter AS (SELECT c.doc_a, c.doc_b, COUNT(*) AS i
       |          FROM cand c JOIN th x ON x.doc_id = c.doc_a
       |                      JOIN th y ON y.doc_id = c.doc_b AND y.h = x.h
       |          GROUP BY 1, 2)
       |SELECT doc_a, doc_b,
       |  CAST(i AS DOUBLE) / CAST(sa.n + sb.n - i AS DOUBLE) AS jaccard
       |FROM inter JOIN sizes sa ON sa.doc_id = doc_a JOIN sizes sb ON sb.doc_id = doc_b
       |WHERE CAST(i AS DOUBLE) / CAST(sa.n + sb.n - i AS DOUBLE) >= 0.8
       |ORDER BY doc_a, doc_b""".stripMargin) { (s, d) =>
    val batch = Tables.documents(s, d).filter(col("doc_id") % 5 === 0)
    incrementalLshPairs(s, corpusStore(s, d), batch).orderBy("doc_a", "doc_b")
  }

  /** q97: edit-distance fuzzy dedup — the string-metric sibling of the
    * set-metric families above (exact Jaccard q47, MinHash q48, SimHash
    * q49). Candidates come from an EQUI-join on a cheap blocking key
    * (8-char prefix + lang), then `levenshtein` verifies on the first 64
    * chars; the blocking equality is part of the pair definition, so the
    * oracle is the same predicate as plain SQL. At sf0.01 the block join
    * emits 99 candidates and the distance test keeps 6 — the expensive
    * O(64²) DP runs only inside blocks, never across the corpus.
    *
    * Scale posture: blocks shuffle-partition by (prefix, lang); a hot
    * prefix (boilerplate openings) bounds the damage to that block, and
    * the key extends compositionally (length band, more prefix chars,
    * source) when a corpus needs tighter blocks. Spark and DuckDB use the
    * same classic Levenshtein DP, so distances match exactly. */
  /** Blocks bigger than this are dropped from the edit-distance candidate
    * join (both engines, part of the pair definition): an oversized block
    * means a boilerplate opening shared by thousands of documents, where
    * an 8-char prefix stops being a discriminating key and the in-block
    * quadratic verify would dominate. Worst-case pairs per block is
    * bounded at MaxEditBlock²/2 by construction; boilerplate-heavy
    * corpora route through the shingle-based LSH path (q48) instead. */
  val MaxEditBlock = 64L

  val q97 = QueryDef(
    "q97_edit_distance_pairs",
    s"""WITH d AS (
      |  SELECT doc_id, lang, substr(text,1,8) AS blk, substr(text,1,64) AS head
      |  FROM documents),
      |ok AS (
      |  SELECT blk, lang FROM d GROUP BY 1, 2
      |  HAVING COUNT(*) <= $MaxEditBlock)
      |SELECT a.doc_id AS id1, b.doc_id AS id2,
      |  levenshtein(a.head, b.head) AS dist
      |FROM d a
      |JOIN ok ON ok.blk = a.blk AND ok.lang = a.lang
      |JOIN d b ON a.blk = b.blk AND a.lang = b.lang AND a.doc_id < b.doc_id
      |WHERE levenshtein(a.head, b.head) <= 4
      |ORDER BY id1, id2""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"),
        substring(col("text"), 1, 8).as("blk"),
        substring(col("text"), 1, 64).as("head"))
    val ok = docs.groupBy("blk", "lang").agg(count(lit(1)).as("__n"))
      .filter(col("__n") <= MaxEditBlock).select("blk", "lang")
    val a = docs.join(ok, Seq("blk", "lang"))
      .select(col("doc_id").as("id1"), col("lang"), col("blk"), col("head").as("h1"))
    val b = docs.select(col("doc_id").as("id2"), col("lang"), col("blk"), col("head").as("h2"))
    a.join(b, Seq("blk", "lang"))
      .filter(col("id1") < col("id2"))
      .withColumn("dist", levenshtein(col("h1"), col("h2")).cast("bigint"))
      .filter(col("dist") <= 4)
      .select("id1", "id2", "dist")
      .orderBy("id1", "id2")
  }

  /** q112: EXACT set-similarity join via prefix filtering (the AllPairs /
    * PPJoin family) — the lossless sibling of MinHash-LSH (q48): same
    * shingle-Jaccard ≥ 0.8 pairs as the quadratic ground truth (q47),
    * found WITHOUT the quadratic join and WITHOUT approximation. Under a
    * global rare-first shingle ordering, two sets with J ≥ t must share
    * a token within their first n − ceil(t·n) + 1 tokens, so candidates
    * come from an equi-join on PREFIX tokens only; an exact intersection
    * count then verifies. The oracle is therefore q47's plain quadratic
    * SQL verbatim — prefix filtering must lose nothing.
    *
    * Scale posture: prefix tokens are the RAREST by construction, so the
    * candidate join's blocks are small exactly where a naive shingle join
    * explodes (stop-shingles never enter a prefix at t = 0.8 unless a doc
    * is tiny); verify work is Σ_candidates |doc|, not corpus². The prefix
    * length uses integer arithmetic — ceil(n·0.8) through doubles rounds
    * UP on exact multiples (5·0.8 → 4.0000000000000002), silently
    * shortening prefixes and breaking losslessness. */
  val q112 = QueryDef(
    "q112_prefix_filter_join",
    s"""WITH sh AS (
       |    $shingleSql),
       |sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
       |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
       |          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2)
       |SELECT doc_a, doc_b,
       |  CAST(i AS DOUBLE) / CAST(sa.n + sb.n - i AS DOUBLE) AS jaccard
       |FROM inter JOIN sizes sa ON sa.doc_id = doc_a JOIN sizes sb ON sb.doc_id = doc_b
       |WHERE CAST(i AS DOUBLE) / CAST(sa.n + sb.n - i AS DOUBLE) >= 0.8
       |ORDER BY doc_a, doc_b""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val sh = shingleDf(s, d)
    val freq = sh.groupBy("s").agg(count(lit(1)).as("__cnt"))
    // per-doc shingles in global rare-first order; integer-exact prefix
    // length p = n - ceil(4n/5) + 1 (t = 0.8 = 4/5)
    val ranked = sh.join(freq, "s")
      .withColumn("__n", count(lit(1)).over(Window.partitionBy("doc_id")))
      .withColumn("__r", row_number().over(
        Window.partitionBy("doc_id").orderBy(col("__cnt"), col("s"))))
    val prefix = ranked
      .filter(col("__r") <= col("__n") - expr("(__n * 4 + 4) div 5") + 1)
      .select(col("doc_id"), col("s"), col("__r").cast("long").as("__r"), col("__n"))
    // Three further LOSSLESS prunes, applied AT PAIR GENERATION so
    // non-viable candidates die inside the self-join's codegen instead
    // of forming a pair stream (r8 100× profile: 20.6M post-filter
    // candidates for 24.7k true pairs flowed through a groupBy plus two
    // sketch joins — ~half the 77 s wall):
    //  - size ratio: J ≥ 4/5 forces 5·min(n) ≥ 4·max(n);
    //  - positional: a shared prefix token at positions (ra, rb) bounds
    //    the overlap by 1 + min(na−ra, nb−rb), which must reach the
    //    minimum overlap ceil(4(na+nb)/9) implied by J ≥ 4/5;
    //  - count-sketch bound: hashing each doc's shingle set into B
    //    counters gives |A ∩ B| ≤ Σ_b min(cntA[b], cntB[b]) (every
    //    shared shingle lands in the same bucket on both sides), so a
    //    pair whose bound misses minOverlap cannot be a J ≥ 0.8 pair.
    //    The sketch rides each prefix row (B ints, ~2 orders smaller
    //    than the doc), and the bound is PAIR-CONSTANT — identical on
    //    every row of a pair — so whole pairs survive or die and the
    //    aggregated filter below keeps its losslessness argument.
    //    Bucket hash is Spark-side only (the oracle never sees
    //    candidates), so cross-engine hash parity is not in play.
    // The sketch build (B counters per doc) plus the sketch-bearing
    // prefix rows are a FIXED cost ∝ corpus that only pays off when the
    // candidate flood it kills can exist (the r8 100× profile: 20.6M
    // post-filter candidates at 500k docs). A bench-scale corpus cannot
    // produce that flood, so the sketch is gated on doc count — below
    // [[SketchMinDocs]] the size-ratio + positional + aggregated-prefix
    // filters (all still lossless on their own) carry the pruning and
    // the ~1.3 s constant sketch overhead disappears from the sf0.1
    // wall. The probe reads the row count straight from parquet FOOTERS
    // (cached) — no Spark job per plan build (ADVICE r10 #2).
    val useSketch =
      Tables.parquetRowCount(s, s"$d/documents.parquet") >= SketchMinDocs
    val B = 32
    val cnts =
      if (!useSketch) null
      else sh.withColumn("b", pmod(hash(col("s")), lit(B)))
        .groupBy("doc_id")
        .agg(array((0 until B).map(i =>
          sum(when(col("b") === i, 1L).otherwise(0L)).cast("int")): _*).as("bcnt"))
    // ranked is already hash-partitioned by doc_id (the window), so this
    // equi-join only shuffles the per-doc sketch side
    val withSketch =
      if (useSketch) prefix.join(cnts, "doc_id")
      else prefix.withColumn("bcnt", lit(null).cast("array<int>"))
    val a = withSketch.select(col("doc_id").as("doc_a"), col("s"),
      col("__r").as("ra"), col("__n").as("na"), col("bcnt").as("ca"))
    val b = withSketch.select(col("doc_id").as("doc_b"), col("s"),
      col("__r").as("rb"), col("__n").as("nb"), col("bcnt").as("cb"))
    // Per-row survivors are a PREFIX of each pair's shared tokens (the
    // positional bound is monotone decreasing in position), which makes
    // the aggregated filter below lossless: with c = count of surviving
    // shared prefix tokens and (ra*, rb*) the positions of the LAST one,
    // every shared token below it is counted by c (global order is
    // consistent across docs) and every one above it lies past both
    // positions, so overlap ≤ c + min(na − ra*, nb − rb*). This is the
    // filter that kills same-length low-Jaccard candidate floods (e.g.
    // boilerplate-sharing corpora) that per-token filters cannot see.
    val minOverlap = expr("(4 * (na + nb) + 8) div 9")
    val cand = a.join(b, "s")
      .filter(col("doc_a") < col("doc_b"))
      .filter(lit(5L) * least(col("na"), col("nb")) >=
        lit(4L) * greatest(col("na"), col("nb")))
      .filter(lit(1L) + least(col("na") - col("ra"), col("nb") - col("rb")) >=
        minOverlap)
      .filter(if (!useSketch) lit(true)
        else aggregate(zip_with(col("ca"), col("cb"), (x, y) => least(x, y)),
          lit(0L), (acc, m) => acc + m) >= minOverlap)
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("c"), max(col("ra")).as("ram"),
        max(col("rb")).as("rbm"), max(col("na")).as("na"), max(col("nb")).as("nb"))
      .filter(col("c") + least(col("na") - col("ram"), col("nb") - col("rbm")) >=
        minOverlap)
      .select("doc_a", "doc_b", "na", "nb")
    // pinned: `cand` feeds BOTH the needed-docs semi-join and the
    // verify join below — without the checkpoint the whole candidate
    // generation would run twice (and it is output-bounded: ~pairs,
    // not corpus)
    val candPin = pin(cand)
    // Exact verify as a per-pair array intersection. The arrays are
    // built ONLY for documents that still appear in a surviving pair
    // (a broadcast semi-join on the output-bounded doc list): the r8
    // profile built sorted arrays for all 500k replica docs when ~40k
    // were ever fetched — verify work must be Σ_candidates |doc|, not
    // corpus-wide. The intersection itself runs inside codegen — no
    // candidate × shingle row explosion, no post-join agg shuffle.
    // no broadcast hint: `needed` is usually tiny (AQE sees the
    // checkpointed cand's true size and plans the broadcast itself) but
    // on a dup-saturated corpus it approaches the doc count, where a
    // forced broadcast would OOM and a shuffled semi-join is correct
    val needed = candPin.select(col("doc_a").as("doc_id"))
      .union(candPin.select(col("doc_b").as("doc_id"))).distinct()
    val arrs = sh.join(needed, Seq("doc_id"), "left_semi")
      .groupBy("doc_id")
      .agg(sort_array(collect_list(col("s"))).as("arr"))
    candPin
      .join(arrs.select(col("doc_id").as("doc_a"), col("arr").as("arr_a")), "doc_a")
      .join(arrs.select(col("doc_id").as("doc_b"), col("arr").as("arr_b")), "doc_b")
      .withColumn("i", size(array_intersect(col("arr_a"), col("arr_b"))).cast("long"))
      .withColumn("jaccard",
        col("i").cast("double") / (col("na") + col("nb") - col("i")).cast("double"))
      .filter(col("jaccard") >= 0.8)
      .select("doc_a", "doc_b", "jaccard")
      .orderBy("doc_a", "doc_b")
  }

  /** q147: exact-substring repetition across documents — the signal
    * behind exact-substring dedup (Lee et al. 2022 dedup at 50-token
    * granularity; here CHARACTER windows of 40 at stride 10, which makes
    * the contract explicit: stride-ALIGNED windows, not every offset).
    * Per document: total windows, windows whose exact 40-char text occurs
    * in at least one OTHER document, and the repeated fraction — the
    * per-doc cut score for cross-document boilerplate (licenses, nav
    * chrome, quote chains) that shingle-Jaccard misses when the rest of
    * the doc differs.
    *
    * Scale posture: windows ≈ chars/10 rows; ONE groupBy(substring) with
    * map-side combine absorbs hot boilerplate windows (same shape as
    * q121's first-occurrence aggregate); the repeated-substring set joins
    * back on the window text with no hint (it is output-bounded, AQE
    * broadcasts it when small). No pairwise work anywhere — cost is
    * linear in corpus chars at any scale. Exact integers end to end;
    * the only double is the final ratio of two exact counts. */
  val q147 = QueryDef(
    "q147_substring_repeats",
    """WITH w AS (
      |  SELECT doc_id, substr(text, CAST(i * 10 + 1 AS BIGINT), 40) AS sub
      |  FROM documents, range(0, 1000) t(i)
      |  WHERE length(text) >= 40 AND i <= (length(text) - 40) // 10),
      |rep AS (SELECT sub FROM w GROUP BY sub HAVING COUNT(DISTINCT doc_id) > 1)
      |SELECT w.doc_id, CAST(COUNT(*) AS BIGINT) AS n_windows,
      |  CAST(SUM(CASE WHEN r.sub IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_repeated,
      |  CAST(SUM(CASE WHEN r.sub IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)
      |    AS repeat_frac
      |FROM w LEFT JOIN rep r ON r.sub = w.sub
      |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
    val w = Tables.documents(s, d)
      .filter(length(col("text")) >= 40)
      .select(col("doc_id"), col("text"),
        explode(sequence(lit(0L),
          expr("cast((length(text) - 40) div 10 as bigint)"))).as("i"))
      .select(col("doc_id"),
        expr("substr(text, cast(i * 10 + 1 as int), 40)").as("sub"))
    val rep = w.groupBy("sub").agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") > 1).select(col("sub"), lit(1).as("__rep"))
    w.join(rep, Seq("sub"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_windows"),
        sum(when(col("__rep").isNotNull, 1L).otherwise(0L)).as("n_repeated"))
      .select(col("doc_id"), col("n_windows"), col("n_repeated"),
        (col("n_repeated").cast("double") / col("n_windows")).as("repeat_frac"))
      .orderBy("doc_id")
  }

  /** Corpus novelty score: per document, the fraction of its distinct
    * 3-shingles whose FIRST occurrence (minimum doc_id — "earlier" in
    * corpus order) is this document. The per-doc diagnostic behind
    * train-on-fresh-data curation: near-1 = novel content, near-0 =
    * boilerplate already seen upstream.
    *
    * Scale posture: one groupBy(shingle) min-aggregate (map-side combine
    * absorbs hot boilerplate shingles exactly like q113's digest
    * aggregate) + one join back on the shingle + a per-doc rollup.
    * No pairwise anything — novelty is linear where Jaccard (q47) is
    * quadratic. */
  val q121 = QueryDef(
    "q121_shingle_novelty",
    s"""WITH sh AS (
       |    $shingleSql),
       |first AS (SELECT s, MIN(doc_id) AS first_doc FROM sh GROUP BY 1),
       |per AS (SELECT sh.doc_id, COUNT(*) AS n_shingles,
       |          SUM(CASE WHEN f.first_doc = sh.doc_id THEN 1 ELSE 0 END) AS n_novel
       |        FROM sh JOIN first f ON f.s = sh.s GROUP BY 1)
       |SELECT doc_id, CAST(n_shingles AS BIGINT) AS n_shingles,
       |       CAST(n_novel AS BIGINT) AS n_novel,
       |       CAST(n_novel AS DOUBLE) / n_shingles AS novelty
       |FROM per ORDER BY doc_id""".stripMargin) { (s, d) =>
    val sh = shingleDf(s, d)
    val first = sh.groupBy("s").agg(min(col("doc_id")).as("first_doc"))
    sh.join(first, Seq("s"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L)).as("n_novel"))
      .select(col("doc_id"), col("n_shingles"), col("n_novel"),
        (col("n_novel").cast("double") / col("n_shingles")).as("novelty"))
      .orderBy("doc_id")
  }


  // ---- q199 single-table streaming state codec ----------------------
  // The continuous-ingest gate keeps ALL of its state in ONE table
  // ("state") so each epoch is ONE ledgered append = ONE version flip
  // (VERDICT r11 #4: the two-table sig/shh layout paid two flips per
  // epoch). Row kinds, tagged by `kind`:
  //   0 = shingle hash        (doc_id, h, bkt)          — the verify set
  //   1 = cut verdict         (doc_id)                  — admission decisions
  //   2 = minhash signature   (doc_id, n, h0..h15)      — recoverable source
  //   3 = band row            (doc_id, n, band, bv, bkt) — the band-join side
  // Unused columns are NULL; parquet stores them as definition levels
  // only, so the union costs no meaningful bytes, and each view below
  // prunes to its own columns at the scan. File pruning (see the layout
  // note above buildSignatureStore): the layout sorts on (kind, bkt,
  // doc_id), so kind filters always prune; kind-3 files further prune by
  // band prune key (`bkt` = bandBucket, the order-aligned (band,
  // bv-prefix) long; all other kinds carry bkt 0), and kind-0 files —
  // bkt constant — sort by raw doc_id, giving the epoch kernel's
  // candidate-id probe disjoint per-file doc_id ranges.

  private[graft] val StateCols: Seq[String] =
    Seq("doc_id", "kind", "bkt", "h", "n", "band", "bv") ++
      (0 until NumHashes).map(i => s"h$i")

  /** One epoch's state rows: the batch's shingle hashes + cut verdicts +
    * minhash signatures + band rows, kind-tagged into the shared schema.
    * Callers write through [[stateLayout]], which range-partitions on
    * (kind, bkt, doc_id) so each file covers a contiguous run of all
    * three — the per-kind views' `kind = k` filters AND the band-bucket /
    * candidate-doc-id probes then prune via file-level min/max stats
    * (and parquet row-group stats within surviving files). */
  private def stateFrame(sig: DataFrame, th: DataFrame, cuts: DataFrame): DataFrame =
    th.withColumn("kind", lit(0)).withColumn("bkt", lit(0L))
      .unionByName(
        cuts.select(col("doc_id"), lit(1).as("kind"), lit(0L).as("bkt")),
        allowMissingColumns = true)
      .unionByName(
        sig.withColumn("kind", lit(2)).withColumn("bkt", lit(0L)),
        allowMissingColumns = true)
      .unionByName(
        bandsN(sig).withColumn("kind", lit(3))
          .withColumn("bkt", bandBucket(col("band"), col("bv"))),
        allowMissingColumns = true)
      .select(StateCols.map(col): _*)

  /** The state table's write layout — see [[stateFrame]]. Replaces the
    * r12-era `coalesce(8).sortWithinPartitions(kind)`: a coalesced layout
    * left every file spanning the whole key space, so nothing
    * file-pruned; the range shuffle this pays is batch-bounded.
    *
    * `files` is the candidate-prune lever: the kind-0 skip probability
    * per file is exp(−candidates × rowsPerFile / storeRows), so more,
    * narrower files = more skipped I/O as the store outgrows the batch.
    * Callers size it with [[sizedStateFiles]] (self-sizing from store
    * stats — VERDICT r14 next #1) or take the bootstrap floor. */
  private def stateLayout(df: DataFrame, files: Int = StateFilesFloor): DataFrame =
    bucketLayout(df, files, "kind", "bkt", "doc_id")

  /** Floor / ceiling of the per-epoch state file count. The floor keeps
    * a bootstrap (empty-store) append from shattering into per-row
    * files; the cap bounds write-task and footer overhead — at bench
    * scale capped files are tens of KB, and at deployment scale the
    * formula below leaves the cap long before files grow past the
    * 128 MiB compaction target. */
  private[graft] val StateFilesFloor = 8
  private[graft] val StateFilesCap = 256

  /** Self-sized file count for one state append (VERDICT r14 next #1 —
    * the DEFAULT layout must prune without a hand-set conf). The kind-0
    * candidate probe skips a file with probability
    * exp(−candidates × rowsPerFile / storeRows), so the write targets
    * rowsPerFile ≲ storeRows / (2 × epoch candidates):
    *
    *   files = 2 × batchRows × candidates / storeRows, clamped to
    *   [[StateFilesFloor]] … [[StateFilesCap]]
    *
    * using this epoch's kernel-counted candidate cardinality as the
    * proxy for future probes (batch shape is a deployment's most stable
    * statistic) and the stats-sidecar row count as storeRows — both
    * metadata / already-paid jobs, no extra scan. Sizing by the CURRENT
    * store is conservative-correct for every later probe: a file
    * written at storeRows₀ and probed at storeRows_E ≥ storeRows₀ has
    * skip probability ≥ exp(−storeRows₀ / (2 · storeRows_E)) ≥
    * exp(−1/2) ≈ 61%. The ramp is GATED on the store having outgrown
    * the batch (storeRows ≥ 4 × batchRows): below that, candidate
    * density is so high that every file of any realistic width is
    * probe-dense — narrow files would only pay write/open overhead
    * with nothing skippable — so short-lived bench-scale stores (q199's
    * 2 epochs, q201's 4) stay at the floor and pay ZERO layout tax,
    * while a probe/deployment store ramps from its 4th batch on (the
    * early coarse layers become a vanishing fraction, and
    * auto-compaction re-clusters them anyway). */
  private def sizedStateFiles(storeRows: Long, batchRows: Long,
      candidates: Option[Long]): Int = {
    val c = candidates.getOrElse(0L)
    if (c <= 0L || batchRows <= 0L || storeRows < 4L * batchRows) StateFilesFloor
    else {
      val f = math.ceil(2.0 * batchRows * c / storeRows)
      math.max(StateFilesFloor.toDouble, math.min(StateFilesCap.toDouble, f)).toInt
    }
  }

  private[graft] def stateSig(state: DataFrame): DataFrame =
    state.filter(col("kind") === 2)
      .select(("doc_id" +: "n" +: (0 until NumHashes).map(i => s"h$i")).map(col): _*)
  private[graft] def stateTh(state: DataFrame): DataFrame =
    state.filter(col("kind") === 0).select("doc_id", "h")
  private[graft] def stateCuts(state: DataFrame): DataFrame =
    state.filter(col("kind") === 1).select("doc_id")

  /** Stored band rows (kind 3) of the state table, file-pruned to the
    * batch's sorted band keys: only files whose kind stats admit 3 AND
    * whose bkt range holds some batch band key are scheduled. A
    * SUPERSET read on bkt (the kind filter is exact) — the kernel's
    * band equi-join restricts to true key matches. */
  private def stateBandsPruned(st: graft.sources.TableStore,
                               keys: Array[Long]): DataFrame = {
    val (df, rep) = st.scanSkippingIds("state",
      Seq(graft.sources.FileStats.ColumnRange("kind", Some(3), Some(3))),
      "bkt", keys)
    Trace.storeRead("state.bands", rep)
    df.select("doc_id", "n", "band", "bv")
  }

  /** Stored shingle hashes (kind 0), file-pruned to the candidate doc-id
    * set when the kernel knows it (a superset read — the kernel's
    * semi-join restricts exactly, see the storedThFor contract). */
  private def stateThFor(st: graft.sources.TableStore)(
      ids: Option[Array[Long]]): DataFrame = ids match {
    case Some(cand) =>
      val (df, rep) = st.scanSkippingIds("state",
        Seq(graft.sources.FileStats.ColumnRange("kind", Some(0), Some(0))),
        "doc_id", cand)
      Trace.storeRead("state.shh", rep)
      df.select("doc_id", "h")
    case None => stateTh(st.table("state"))
  }

  /** Create the q199 streaming state table seeded with `corpus` (pass an
    * empty frame to let the stream bootstrap from nothing). */
  private[graft] def buildDedupState(st: graft.sources.TableStore,
                                     corpus: DataFrame): Unit = {
    val (sig, th) = signatureFrames(corpus)
    sig.persist(); th.persist()
    try st.create("state",
      stateLayout(stateFrame(sig, th, th.select("doc_id").limit(0))))
    finally { sig.unpersist(); th.unpersist(); () }
  }

  /** The q199 per-epoch dedup-admission step, shared with the restart
    * spec. Batch docs check against EVERY previously seen doc's
    * signatures (admitted AND cut — "is there any earlier near-dup"
    * quantifies over the whole history, not the survivors: if d2 was cut
    * as d1's dup, a later d3 resembling only d2 is still a dup), plus
    * in-batch earlier docs via the kernel's new-new leg. Each epoch
    * commits its minhash signatures, its shingle hashes, its band rows
    * AND its cut verdicts as ONE kind-tagged [[stateFrame]] through ONE
    * ledgered append — verdicts become visible atomically with the
    * signatures that produced them. A restarted epoch re-offering a
    * committed id no-ops BEFORE any LSH work runs (the body consults the
    * store's exactly-once epoch ledger first — ADVICE r13; appendBatch's
    * own ledger check remains the write-side authority). There is no
    * partial-commit window to reason about: one table, one flip. */
  private[graft] def dedupIngestEpoch(st0: graft.sources.TableStore)(
      batch: DataFrame, epoch: Long): Unit = {
    val s = batch.sparkSession
    // re-home the store handle on the BATCH's session (the stream's clone
    // when called from q199's foreachBatch) so the epoch's jobs plan with
    // the stream-scoped conf — notably the 8-partition replay width —
    // instead of the shared session's; a fresh handle over an existing
    // directory is free, and the epoch ledger lives in the directory, not
    // the handle (DedupIngestRestartSpec re-opens handles the same way)
    val st = new graft.sources.TableStore(s, st0.rootDir)
    // replay guard FIRST (ADVICE r13): a committed epoch must no-op
    // without paying the batch shingling or any store scan
    if (st.batchCommitted("state", epoch)) return
    val (newSig, newTh) = {
      val (sig, th) = signatureFrames(batch)
      (sig.persist(), th.persist())
    }
    try {
      // store size BEFORE this append (stats-sidecar metadata, no job) —
      // the denominator of the self-sized write layout below
      val storeRows = st.statsRowCount("state")
      // one bounded collect yields BOTH the band-bucket file-prune keys
      // and the local band relation the kernel broadcasts job-free
      val bbl = batchBandsLocal(s, newSig)
      val k = incrementalLshKernelPruned(s,
        stateBandsPruned(st, bbl.map(_._1).getOrElse(batchBandKeys(newSig))),
        stateThFor(st), newSig, newTh, batchBands = bbl.map(_._2))
      // eager pin of the (tiny) cut set before building the state frame:
      // the append's range-partitioned write SAMPLES its input, so an
      // inline pairs pipeline would run the verify joins twice; the pin
      // runs them once and lets the kernel caches release before the
      // write (local blocks by default, reliable under
      // spark.graft.checkpointDir — see [[Resources.pin]]).
      val cut =
        try pin(k.pairs.select(col("doc_b").as("doc_id")).distinct())
        finally k.release()
      // batch size off the already-populated newTh cache (shingle rows
      // dominate the state frame, so they ARE the layout-relevant count)
      val files = sizedStateFiles(storeRows, newTh.count(), k.candCount)
      st.appendBatch("state", epoch,
        stateLayout(stateFrame(newSig, newTh, cut), files))
      maybeAutoCompact(s, st, k.candCount)
    } finally { newSig.unpersist(); newTh.unpersist(); () }
  }

  /** Auto-compaction under continuous ingest (VERDICT r14 next #4): when
    * the state table's append chain reaches
    * `spark.graft.state.autoCompactVersions` versions (default 16; 0
    * disables), run [[compactSignatureStore]] right after the epoch's
    * append — a real ingest loop must not depend on an operator
    * remembering offline maintenance. The trigger is CHAIN LENGTH (the
    * manifest's entry count — exactly the term that grows planning cost
    * per epoch), and the compaction re-establishes globally disjoint
    * (kind, bkt, doc_id) file ranges, so post-compaction probes prune at
    * least as well as before (DedupIngestSpec gates admission parity;
    * q201 gates it on the oracle across the manual path). Results are
    * unchanged by construction — compaction rewrites the same rows. */
  private def maybeAutoCompact(s: SparkSession, st: graft.sources.TableStore,
      candidates: Option[Long]): Unit = {
    val limit = autoCompactLimit(s)
    if (limit > 0 && st.chainLength("state") >= limit)
      compactSignatureStore(st, compactMinFiles(st, "state", candidates))
  }

  /** The auto-compaction trigger every maintained store shares:
    * `spark.graft.state.autoCompactVersions` versions (default 16; 0
    * disables). ONE read path so the policy can never silently drift
    * between the dedup state, BM25 index, and IVF list stores (ADVICE
    * r15 #3). */
  private[graft] def autoCompactLimit(s: SparkSession): Int =
    s.conf.getOption("spark.graft.state.autoCompactVersions")
      .map(_.toInt).getOrElse(16)

  /** Shared auto-compaction step for a SINGLE clustered store table (the
    * BM25 index and IVF list stores; the multi-table dedup state goes
    * through [[maybeAutoCompact]]/[[compactSignatureStore]]): when the
    * append chain reaches the shared trigger, collapse it with the
    * layout-PRESERVING clustered compaction — cluster-key file ranges
    * stay disjoint so the serving prunes survive, and the epoch ledger
    * survives so replays still no-op.
    *
    * `limitOverride` threads an explicit per-caller policy (a lineage
    * gate forcing compactions mid-build) WITHOUT touching the shared
    * session conf — toggling `spark.graft.state.autoCompactVersions`
    * globally raced concurrent gates on the same session (ADVICE r16). */
  private[graft] def maybeAutoCompactClustered(s: SparkSession,
      st: graft.sources.TableStore, name: String,
      clusterCols: Seq[String], limitOverride: Option[Int] = None,
      retainVersions: Option[Int] = None): Unit = {
    val limit = limitOverride.getOrElse(autoCompactLimit(s))
    if (limit > 0 && st.chainLength(name) >= limit) {
      st.compactClustered(name, clusterCols,
        math.max(StateFilesFloor, st.fileCount(name) / 2),
        retainVersions)
    }
  }

  /** Post-compaction width for a signature/state table: keep
    * rows-per-file at the same storeRows / (2 × candidates) target the
    * write layout uses — i.e. ~2 × candidates files — so maintenance
    * never silently widens files past what the per-epoch probes can
    * skip, but never MORE files than the store already has (compaction
    * must not fragment; globally-disjoint post-compaction ranges prune
    * at least as well at equal count). Falls back to halving the
    * current file count (chain collapse at comparable width) when no
    * candidate figure is at hand, and
    * [[graft.sources.TableStore.compactClustered]] still takes the
    * byte-derived width when larger, which caps file size at deployment
    * scale. */
  private def compactMinFiles(st: graft.sources.TableStore, name: String,
      candidates: Option[Long]): Int = {
    val current = st.fileCount(name)
    val byCand = candidates.filter(_ > 0L)
      .map(c => math.max(StateFilesFloor.toLong,
        math.min(math.min(4096L, current.toLong), 2L * c)).toInt)
    byCand.getOrElse(math.max(StateFilesFloor, current / 2))
  }

  /** q199: STREAMING dedup ingest — the twelfth streaming gate and q90's
    * continuous form: an unbounded corpus arrives as strictly
    * doc_id-ordered micro-batches, and each document is ADMITTED iff no
    * earlier document (any prior batch, or an earlier doc_id in the same
    * batch) is a verified >= 0.8 near-duplicate. The signature store IS
    * the streaming state: parquet tables on disk, never executor memory
    * or driver structures.
    *
    * Correctness: banding and verification are content-hash-determined
    * (md5-based, the cross-engine q90 universe), so a pair is found in
    * whichever epoch its later endpoint arrives — the union over epochs
    * is exactly the monolithic pair set, and "admitted = no earlier
    * near-dup" is epoch-independent. The oracle runs the monolithic LSH
    * chain (the q48 `verified` CTEs) and cuts every doc_b.
    *
    * Scale posture: per-epoch work is batch-proportional (shingle and
    * minhash of the batch + candidate-bounded equi-joins against stored
    * parquet signatures — corpus text never replays, exactly q90's
    * daily-delta bound). Restart idempotence is the store's per-writer
    * epoch ledger, exercised by DedupIngestRestartSpec. */
  val q199 = QueryDef(
    "q199_streaming_dedup_ingest",
    s"""WITH $lshPairsCtes,
       |cut AS (SELECT DISTINCT doc_b FROM verified)
       |SELECT d.doc_id, d.source,
       |  len(string_split(trim(d.text), ' ')) AS n_tokens
       |FROM documents d
       |WHERE d.doc_id NOT IN (SELECT doc_b FROM cut)
       |ORDER BY d.doc_id""".stripMargin)(q199Impl()(_, _))

  /** q199 body; `rowsPerFile` sizes the staged replay files (specs pass a
    * tiny value to force the multi-file aligned-batch path at test scale). */
  private[graft] def q199Impl(rowsPerFile: Long = EventsOps.OuterStageRowsPerFile)(
      s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select("doc_id", "text")
    Resources.scratchStore(s, "graft-dedup-ingest") { st =>
      buildDedupState(st, docs.limit(0)) // empty state: the stream bootstraps it
      // 2 doc_id slices × nFiles aligned files. Two epochs are the
      // minimum that exercises cross-epoch dedup (stored-vs-batch pairs
      // over the epoch boundary) — the dominant per-epoch costs (batch
      // shingling, verify checkpoint, state append, microbatch
      // bookkeeping) are fixed per EPOCH, so more slices pay that toll
      // for no additional coverage; corpora large enough to need finer
      // batches raise nFiles via rowsPerFile instead.
      Epochs.streamed(s, Epochs.slice(docs, col("doc_id"), 2), rowsPerFile,
        "q199_dedup_sink")(dedupIngestEpoch(st))
      val cuts = stateCuts(st.table("state")).distinct()
      Tables.documents(s, d)
        .join(cuts, Seq("doc_id"), "left_anti")
        .select(col("doc_id"), col("source"),
          size(tokens(col("text"))).cast("long").as("n_tokens"))
        .orderBy("doc_id")
    }
  }

  /** q201: dedup ingest ACROSS store maintenance — q199's admission
    * semantics driven as direct doc_id-ordered epoch batches with a
    * layout-restoring compaction ([[compactSignatureStore]]) in the
    * middle of the run. Banding and verification are content-hash-
    * determined, so the admitted set must be IDENTICAL whether or not
    * the state table was compacted mid-ingest — the oracle is exactly
    * q199's monolithic one, making "maintenance never changes results"
    * an oracle-gated guarantee rather than a spec-only one. The epochs
    * AFTER the compaction probe the compacted files, so the restored
    * prune layout (compactClustered's (kind, bkt, doc_id) ranges) is on
    * the correctness path end to end.
    *
    * Scale posture: identical to q199's per-epoch bound; the compaction
    * itself is one range shuffle of the surviving state (the price of
    * re-establishing disjoint file ranges), amortized over every later
    * epoch's pruned reads. */
  val q201 = QueryDef(
    "q201_dedup_compact_ingest",
    s"""WITH $lshPairsCtes,
       |cut AS (SELECT DISTINCT doc_b FROM verified)
       |SELECT d.doc_id, d.source,
       |  len(string_split(trim(d.text), ' ')) AS n_tokens
       |FROM documents d
       |WHERE d.doc_id NOT IN (SELECT doc_b FROM cut)
       |ORDER BY d.doc_id""".stripMargin) { (s0, d) =>
    // batch-bounded epochs: the streamed sibling (q199) plans these at
    // the bounded replay width via its foreachBatch clone; run the
    // direct loop under the same width (EventsOps.withReplayWidth),
    // derived from the per-epoch input volume
    val inBytes = EventsOps.planBytes(
      Tables.documents(s0, d).select("doc_id", "text"))
    EventsOps.withReplayWidth(s0, inBytes / 4) { s =>
    val docs = Tables.documents(s, d).select("doc_id", "text")
    Resources.scratchStore(s, "graft-dedup-compact") { st =>
      buildDedupState(st, docs.limit(0))
      Epochs.direct(Epochs.slice(docs, col("doc_id"), 4)) { (batch, e) =>
        dedupIngestEpoch(st)(batch, e)
        // maintenance mid-run: collapse the 3-version chain and restore
        // the prune layout; epochs 2-3 dedupe against the compacted store
        if (e == 1L) compactSignatureStore(st)
      }
      // serve phase joins the store-wide cut set against the whole corpus
      // — width from the full input volume, not the epoch's
      EventsOps.serveWidth(s, inBytes)
      val cuts = stateCuts(st.table("state")).distinct()
      Tables.documents(s, d)
        .join(cuts, Seq("doc_id"), "left_anti")
        .select(col("doc_id"), col("source"),
          size(tokens(col("text"))).cast("long").as("n_tokens"))
        .orderBy("doc_id")
    }
    }
  }

  /** q202: dedup ingest under POLICY-DRIVEN maintenance — q201's
    * admission semantics with the compaction decided by the
    * auto-compaction policy itself ([[maybeAutoCompact]] inside
    * [[dedupIngestEpoch]]), never by the caller: four doc_id-ordered
    * epochs with the chain-length trigger lowered to 3 (via
    * `spark.graft.state.autoCompactVersions`, restored afterwards), so
    * the policy compacts the store TWICE mid-run — after epochs 1 and 3
    * — and epochs 2–3 dedupe against a policy-compacted store. Banding
    * and verification are content-hash-determined, so the admitted set
    * must be identical to the never-compacted run; the oracle is
    * exactly q199's monolithic one, which upgrades "the maintenance
    * POLICY never changes results" from a spec-level claim
    * (DedupIngestSpec) to an oracle-gated one, the way q201 did for
    * hand-invoked maintenance.
    *
    * Scale posture: per-epoch bound identical to q199/q201; each policy
    * compaction is one range shuffle of surviving state at a width
    * capped by the store's current file count ([[compactMinFiles]]),
    * amortized by every later epoch's pruned reads and the collapsed
    * manifest. */
  val q202 = QueryDef(
    "q202_dedup_policy_compact_ingest",
    s"""WITH $lshPairsCtes,
       |cut AS (SELECT DISTINCT doc_b FROM verified)
       |SELECT d.doc_id, d.source,
       |  len(string_split(trim(d.text), ' ')) AS n_tokens
       |FROM documents d
       |WHERE d.doc_id NOT IN (SELECT doc_b FROM cut)
       |ORDER BY d.doc_id""".stripMargin) { (s0, d) =>
    // same bounded replay width as q199/q201 — see withReplayWidth
    val inBytes = EventsOps.planBytes(
      Tables.documents(s0, d).select("doc_id", "text"))
    EventsOps.withReplayWidth(s0, inBytes / 4) { s =>
    val docs = Tables.documents(s, d).select("doc_id", "text")
    val confKey = "spark.graft.state.autoCompactVersions"
    val prev = s.conf.getOption(confKey)
    s.conf.set(confKey, "3")
    try Resources.scratchStore(s, "graft-dedup-policy") { st =>
      buildDedupState(st, docs.limit(0))
      // no maintenance call anywhere: the policy inside the epoch
      // fires whenever the chain reaches the configured trigger
      Epochs.direct(Epochs.slice(docs, col("doc_id"), 4))(dedupIngestEpoch(st))
      // serve phase is store-wide ⋈ corpus — full-volume width
      EventsOps.serveWidth(s, inBytes)
      val cuts = stateCuts(st.table("state")).distinct()
      Tables.documents(s, d)
        .join(cuts, Seq("doc_id"), "left_anti")
        .select(col("doc_id"), col("source"),
          size(tokens(col("text"))).cast("long").as("n_tokens"))
        .orderBy("doc_id")
    } finally {
      prev match {
        case Some(v) => s.conf.set(confKey, v)
        case None => s.conf.unset(confKey)
      }
    }
    }
  }

  // ------------------------------------------------------------------
  // Incremental near-dup CLUSTER maintenance (q203, in DedupClusters):
  // q71's component labels kept CURRENT as the corpus arrives in epochs,
  // on the same kind-tagged signature store q199's admission uses. Two
  // new kinds join the state schema:
  //   kind 4 — label rows: (doc_id, h = component at append time)
  //   kind 5 — merge mappings: (doc_id = absorbed component id, h = the
  //            absorbing component id, resolved AT APPEND TIME)
  // Members of an absorbed component are NEVER eagerly rewritten — the
  // kind-5 row re-points the whole component and readers resolve through
  // the mapping closure — so per-epoch writes stay endpoint-bounded
  // (this epoch's pair endpoints + one row per absorbed component),
  // never store-proportional, and the one ledgered append per epoch
  // keeps q199's atomicity story: labels and mappings become visible
  // with the signatures that produced them, in one flip.
  // ------------------------------------------------------------------

  /** Hop budget for [[resolveThroughMappings]]' targeted walk — the ONE
    * fixpoint budget shared with the distributed closure
    * ([[DedupClusters.MaxRounds]]; a `def` so the cross-object reference
    * cannot trip object-initialization order): ingest and readback see
    * the same ceiling, so a store that ingested can always be read back.
    * Chains stay short because every appended mapping points at the
    * component CURRENT at its epoch (path compression on write), and
    * [[compactSignatureStore]] collapses surviving chains to single
    * hops. */
  private[graft] def MappingChainRounds: Int = DedupClusters.MaxRounds

  /** Stored label rows (kind 4) as (doc_id, component-at-append-time),
    * file-pruned to `ids` when the endpoint set is known (a SUPERSET
    * read — callers restrict exactly). A doc re-matched across epochs
    * carries several kind-4 rows; each resolves to the same current
    * component through the mapping chain, so callers may take any
    * (min, for determinism). */
  private def stateLabelsFor(st: graft.sources.TableStore)(
      ids: Option[Array[Long]]): DataFrame = ids match {
    case Some(e) =>
      val (df, rep) = st.scanSkippingIds("state",
        Seq(graft.sources.FileStats.ColumnRange("kind", Some(4), Some(4))),
        "doc_id", e)
      Trace.storeRead("state.labels", rep)
      df.select(col("doc_id"), col("h").as("component"))
    case None =>
      st.table("state").filter(col("kind") === 4)
        .select(col("doc_id"), col("h").as("component"))
  }

  /** Stored merge mappings (kind 5) as (old_comp, new_comp). */
  private[graft] def stateMappings(state: DataFrame): DataFrame =
    state.filter(col("kind") === 5)
      .select(col("doc_id").as("old_comp"), col("h").as("new_comp"))

  /** Resolve raw (doc_id, component) labels through the stored merge
    * chains. `prunedIds = true` (the epoch's endpoint set fit under the
    * broadcast ceiling) walks hop-by-hop with kind-5 reads file-pruned
    * to the CURRENT component id set — per-hop work is bounded by the
    * endpoint set, never the mapping table, and hops = the longest live
    * chain (see [[MappingChainRounds]]). `prunedIds = false` (skew
    * fallback, same trigger as the kernel's) reads the kind-5 slice once
    * and closes it with the distributed fixpoint instead — no driver
    * collects on the skew path. */
  private def resolveThroughMappings(st: graft.sources.TableStore,
      raw: DataFrame, prunedIds: Boolean): DataFrame = {
    if (!prunedIds) {
      val m = stateMappings(st.table("state"))
      val closure = DedupClusters.propagateMin(
        m.select(col("old_comp").as("src"), col("new_comp").as("dst"))
          .unionByName(m.select(col("new_comp").as("src"), col("old_comp").as("dst"))))
      return raw.join(closure.toDF("component", "root"), Seq("component"), "left")
        .select(col("doc_id"), coalesce(col("root"), col("component")).as("component"))
    }
    // Driver walk (guide §1.2/§5): prunedIds = true means the caller's
    // endpoint set fit the broadcast ceiling, and raw is one row per
    // endpoint — hold the labels on the driver and pay ONE job per hop
    // (the pruned kind-5 scan + min-per-component aggregate) instead of
    // the ids-collect + checkpoint + count triple the distributed loop
    // needed. Identical hop semantics, same round budget.
    collectUnder(raw, MaxBroadcastCandidateDocs) match {
      case Some(rows) =>
        val rawArr = rows.map(r => (r.getLong(0), r.getLong(1)))
        val s = raw.sparkSession
        val resolved = driverResolveMappings(s, st, rawArr)
        import s.implicits._
        return rawArr.map { case (d, _) => (d, resolved(d)) }.toSeq
          .toDF("doc_id", "component")
      case None => ()
    }
    var cur = pin(raw)
    var rounds = 0
    while (rounds < MappingChainRounds) {
      val ids = cur.select("component").distinct().collect().map(_.getLong(0))
      if (ids.isEmpty) return cur
      java.util.Arrays.sort(ids)
      val (m, rep) = st.scanSkippingIds("state",
        Seq(graft.sources.FileStats.ColumnRange("kind", Some(5), Some(5))),
        "doc_id", ids)
      Trace.storeRead("state.maps", rep)
      // min over re-emitted rows picks the furthest-resolved target
      val step = m.select(col("doc_id").as("component"), col("h").as("nc"))
        .groupBy("component").agg(min(col("nc")).as("nc"))
      val joined = pin(cur.join(step, Seq("component"), "left")
        .select(col("doc_id"), col("component"), col("nc")))
      val moved = joined
        .filter(col("nc").isNotNull && col("nc") =!= col("component")).count()
      cur = joined.select(col("doc_id"),
        coalesce(col("nc"), col("component")).as("component"))
      if (moved == 0L) return cur
      rounds += 1
    }
    throw new IllegalStateException(mappingChainError)
  }

  private def mappingChainError: String =
    s"merge-mapping chain resolution did not converge after $MappingChainRounds hops " +
      "— compact the signature store to collapse re-emitted chains"

  /** The hop-by-hop kind-5 chain walk of [[resolveThroughMappings]]'
    * pruned path, run against driver-held labels: each hop file-prunes
    * the stored mappings to the CURRENT component id set (one Spark job:
    * pruned scan + semi-join + min per component), applies the step on
    * the driver, and stops when nothing moved. Same hop semantics and
    * round budget as the distributed loop; shared by the pruned resolve
    * and [[clusterIngestEpochBody]]'s driver contraction. Returns
    * doc_id -> resolved component for every input pair. */
  private def driverResolveMappings(s: SparkSession,
      st: graft.sources.TableStore,
      raw: Array[(Long, Long)]): scala.collection.mutable.LongMap[Long] = {
    val docs = raw.map(_._1)
    val comps = raw.map(_._2)
    var rounds = 0
    var done = raw.isEmpty
    while (!done && rounds < MappingChainRounds) {
      val ids = comps.distinct
      java.util.Arrays.sort(ids)
      val (m, rep) = st.scanSkippingIds("state",
        Seq(graft.sources.FileStats.ColumnRange("kind", Some(5), Some(5))),
        "doc_id", ids)
      Trace.storeRead("state.maps", rep)
      import s.implicits._
      // min over re-emitted rows picks the furthest-resolved target; the
      // semi-join restricts the scan's file-granular SUPERSET to the ids
      val stepArr = m.select(col("doc_id"), col("h"))
        .join(broadcast(ids.toSeq.toDF("doc_id")), Seq("doc_id"), "left_semi")
        .groupBy("doc_id").agg(min(col("h")).as("nc")).collect()
      val step = new scala.collection.mutable.LongMap[Long](stepArr.length)
      stepArr.foreach(r => step.update(r.getLong(0), r.getLong(1)))
      var moved = 0L
      var i = 0
      while (i < comps.length) {
        val nc = step.getOrElse(comps(i), comps(i))
        if (nc != comps(i)) { comps(i) = nc; moved += 1 }
        i += 1
      }
      if (moved == 0L) done = true else rounds += 1
    }
    if (!done && rounds >= MappingChainRounds)
      throw new IllegalStateException(mappingChainError)
    val out = new scala.collection.mutable.LongMap[Long](raw.length)
    var i = 0
    while (i < raw.length) { out.update(docs(i), comps(i)); i += 1 }
    out
  }

  /** One CLUSTER epoch's state rows: the dedup state frame (kinds 0/2/3;
    * no cut verdicts — clustering keeps every doc) plus this epoch's
    * label rows (kind 4), merge mappings (kind 5) and optional per-doc
    * metadata rows (kinds >= 6, caller-shaped — see
    * [[clusterIngestEpoch]]), all in the shared [[StateCols]] schema so
    * ONE [[stateLayout]] write lays every kind out for its own file
    * prune. */
  private def clusterStateFrame(sig: DataFrame, th: DataFrame,
      labels: DataFrame, maps: DataFrame,
      metaRows: Option[DataFrame]): DataFrame = {
    val base = stateFrame(sig, th, th.select("doc_id").limit(0))
      .unionByName(labels.select(col("doc_id"), lit(4).as("kind"),
        lit(0L).as("bkt"), col("component").as("h")), allowMissingColumns = true)
      .unionByName(maps.select(col("old_comp").as("doc_id"), lit(5).as("kind"),
        lit(0L).as("bkt"), col("new_comp").as("h")), allowMissingColumns = true)
    metaRows.fold(base)(m => base.unionByName(m, allowMissingColumns = true))
      .select(StateCols.map(col): _*)
  }

  /** Stored per-doc metadata of one kind (>= 6) as (doc_id, h, n) — the
    * sidecar a downstream maintained aggregate (q204's canonical argmax,
    * q205's savings report) reads so it never re-touches corpus text.
    * One row per ingested doc per kind; `distinct` keeps a replayed
    * probe's duplicates out (values are content-determined). */
  private[graft] def stateDocMeta(state: DataFrame, kind: Int = 6): DataFrame =
    state.filter(col("kind") === kind)
      .select(col("doc_id"), col("h"), col("n")).distinct()

  /** The q203 per-epoch cluster-maintenance step. Batch docs run the
    * SAME incremental kernel as q199 (this epoch's verified pairs = the
    * pairs whose LATER endpoint just arrived; banding and verification
    * are content-hash-determined, so the union over epochs is exactly
    * the monolithic pair set), then a min-label fixpoint contracts the
    * EPOCH-BOUNDED merge graph — pair edges plus endpoint↔current-
    * component links, so two stored clusters bridged by one new doc
    * merge transitively through their label nodes — and ONE ledgered
    * append commits signatures + labels + mappings atomically. A
    * restarted epoch re-offering a committed id no-ops before any LSH
    * work (same guard as [[dedupIngestEpoch]]); a crash mid-epoch left
    * nothing visible (single append at the end), and the re-run is
    * deterministic because the store it reads is unchanged. */
  /** `meta` (optional): batch => per-doc metadata rows to commit WITH the
    * epoch — shape (doc_id, kind, bkt, h, n) with kind >= 6 (kinds 0-5
    * belong to the engine) and bkt = 0; computed at arrival, the only
    * moment the text is in hand. */
  private[graft] def clusterIngestEpoch(st0: graft.sources.TableStore,
      meta: Option[DataFrame => DataFrame] = None)(
      batch: DataFrame, epoch: Long): Unit = {
    val s = batch.sparkSession
    val st = new graft.sources.TableStore(s, st0.rootDir)
    if (st.batchCommitted("state", epoch)) return
    val (newSig, newTh) = {
      val (sig, th) = signatureFrames(batch)
      (sig.persist(), th.persist())
    }
    try {
      val storeRows = st.statsRowCount("state")
      val bbl = batchBandsLocal(s, newSig)
      val k = incrementalLshKernelPruned(s,
        stateBandsPruned(st, bbl.map(_._1).getOrElse(batchBandKeys(newSig))),
        stateThFor(st), newSig, newTh, batchBands = bbl.map(_._2))
      // Bounded probe of the epoch's verified pairs: under the kernel's
      // broadcast ceiling the WHOLE merge-graph contraction — endpoint
      // resolution, mapping-chain walk, min-label fixpoint, absorbed-
      // component mapping rows — runs on the DRIVER over this one collect
      // (the graph is pair-bounded by construction, same ceiling the
      // candidate collect always had). Per-epoch actions drop from ~10
      // scheduling barriers (pins + per-round counts) to: this collect,
      // one pruned label scan, one pruned kind-5 scan per mapping hop,
      // the batch count and the append. Over the ceiling (band-value
      // skew): the distributed dataflow below, unchanged.
      val pairsLocal: Either[DataFrame, Array[(Long, Long)]] =
        try {
          val pairs = k.pairs.select(col("doc_a"), col("doc_b"))
          collectUnder(pairs, MaxBroadcastCandidateDocs)
            .map(a => a.map(r => (r.getLong(0), r.getLong(1))))
            .toRight(pin(pairs))
        } finally k.release()
      val (labelRows, maps) = pairsLocal match {
        case Right(prs) => driverEpochContraction(s, st, prs)
        case Left(pairs) =>
      val endpoints = pairs
        .select(explode(array(col("doc_a"), col("doc_b"))).as("doc_id"))
        .distinct()
      // endpoint ids under the kernel's broadcast ceiling drive the
      // kind-4/kind-5 file prunes; over it, the same skew fallback as
      // the kernel — unpruned scans, no driver collect
      // one bounded collect instead of count-then-collect — same driver
      // bound, one job fewer per epoch
      val epIds = collectUnder(endpoints, MaxBroadcastCandidateDocs).map { rows =>
        val a = rows.map(_.getLong(0))
        java.util.Arrays.sort(a)
        a
      }
      val rawStored = stateLabelsFor(st)(epIds)
        .join(endpoints, Seq("doc_id"), "left_semi")
        .groupBy("doc_id").agg(min(col("component")).as("component"))
      val curStored = resolveThroughMappings(st, rawStored, epIds.isDefined)
      // current labels of this epoch's endpoints; never-paired docs
      // start at themselves
      val cur = pin(endpoints.join(curStored, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("component"), col("doc_id")).as("component")))
      val compLinks = cur.filter(col("component") =!= col("doc_id"))
        .select(col("doc_id").as("src"), col("component").as("dst"))
      val edges = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
        .unionByName(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
        .unionByName(compLinks)
        .unionByName(compLinks.select(col("dst").as("src"), col("src").as("dst")))
      val fin = DedupClusters.propagateMin(edges, Some(cur))
      // ONE checkpoint materializes this epoch's kind-4 AND kind-5 rows
      // (they were two separate pins — two scheduling barriers for two
      // tiny endpoint-bounded frames that the state write consumes
      // together anyway)
      val lm = pin(endpoints.join(fin, Seq("doc_id"))
        .select(col("doc_id").as("a"), col("component").as("b"), lit(4).as("tag"))
      // one mapping row per component this epoch ABSORBED — and only
      // those: candidates are the pre-epoch LIVE components reachable
      // from this epoch (= resolved labels of stored endpoints; a
      // cluster can only merge if one of its members is an endpoint, and
      // every such component is a graph node — as its own endpoint row
      // or as a link target). First-seen endpoints that lost to a
      // smaller id are EXCLUDED: nothing on disk is labeled with a
      // never-stored id, so kind-5 stays O(absorbed components), not
      // O(endpoints), however dup-heavy the corpus.
        .unionByName(curStored.select(col("component").as("doc_id")).distinct()
          .join(fin.toDF("doc_id", "fin"), Seq("doc_id"))
          .filter(col("fin") < col("doc_id"))
          .select(col("doc_id").as("a"), col("fin").as("b"), lit(5).as("tag"))))
      (lm.filter(col("tag") === 4)
        .select(col("a").as("doc_id"), col("b").as("component")),
       lm.filter(col("tag") === 5)
        .select(col("a").as("old_comp"), col("b").as("new_comp")))
      }
      // optional per-doc metadata (kinds >= 6) — batch-bounded expression
      // work at arrival time (the only moment the text is in hand)
      val metaRows = meta.map(f => f(batch))
      val files = sizedStateFiles(storeRows, newTh.count(), k.candCount)
      st.appendBatch("state", epoch,
        stateLayout(clusterStateFrame(newSig, newTh, labelRows, maps, metaRows),
          files))
      maybeAutoCompact(s, st, k.candCount)
    } finally { newSig.unpersist(); newTh.unpersist(); () }
  }

  /** The under-ceiling cluster-epoch contraction on the driver: given the
    * epoch's verified pairs (bounded by the kernel's broadcast ceiling),
    * resolve the endpoints' stored labels (one kind-4 file-pruned scan +
    * the driver kind-5 chain walk), contract the merge graph — pair edges
    * plus endpoint↔current-component links — with a union-find, and emit
    * the epoch's kind-4 label rows and kind-5 absorbed-component mappings
    * as LOCAL relations the state write consumes directly (no checkpoint
    * barriers). Semantics identical to the distributed dataflow in
    * [[clusterIngestEpochBody]]'s skew branch: same label fixpoint (min
    * reachable seeded label), same mapping-candidate rule (distinct
    * resolved stored components whose final label is smaller). */
  private def driverEpochContraction(s: SparkSession,
      st: graft.sources.TableStore,
      prs: Array[(Long, Long)]): (DataFrame, DataFrame) = {
    import s.implicits._
    if (prs.isEmpty)
      return (Seq.empty[(Long, Long)].toDF("doc_id", "component"),
        Seq.empty[(Long, Long)].toDF("old_comp", "new_comp"))
    val epSet = new scala.collection.mutable.LongMap[Boolean]()
    prs.foreach { case (a, b) => epSet.update(a, true); epSet.update(b, true) }
    val eps = new Array[Long](epSet.size)
    var epI = 0
    epSet.foreach { case (k, _) => eps(epI) = k; epI += 1 }
    java.util.Arrays.sort(eps)
    // stored labels of this epoch's endpoints: kind-4 scan file-pruned to
    // the endpoint ids, restricted exactly by the semi-join, min per doc
    // (a doc re-matched across epochs carries several kind-4 rows that
    // all resolve to the same current component)
    val (ldf, rep) = st.scanSkippingIds("state",
      Seq(graft.sources.FileStats.ColumnRange("kind", Some(4), Some(4))),
      "doc_id", eps)
    Trace.storeRead("state.labels", rep)
    val rawArr = ldf.select(col("doc_id"), col("h").as("component"))
      .join(broadcast(eps.toSeq.toDF("doc_id")), Seq("doc_id"), "left_semi")
      .groupBy("doc_id").agg(min(col("component")).as("component"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // current labels through the stored merge chains; never-paired
    // endpoints start at themselves
    val curMap = driverResolveMappings(s, st, rawArr)
    def curOf(v: Long): Long = curMap.getOrElse(v, v)
    // merge graph: pair edges + endpoint↔current-component links (the
    // union-find is undirected, so one direction of each suffices)
    val links = new scala.collection.mutable.ArrayBuffer[(Long, Long)]()
    eps.foreach { e => val c = curOf(e); if (c != e) links += ((e, c)) }
    val fin = DedupClusters.unionFindMin(prs ++ links, eps,
      v => if (epSet.contains(v)) curOf(v) else v)
    val labelArr = eps.map(e => (e, fin(e)))
    // one mapping row per component this epoch ABSORBED — candidates are
    // the distinct pre-epoch LIVE components reachable from this epoch
    // (= resolved labels of stored endpoints), kept when the contraction
    // gave them a smaller final label; same rule as the skew branch
    val seen = new scala.collection.mutable.LongMap[Boolean]()
    val absorbed = new scala.collection.mutable.ArrayBuffer[(Long, Long)]()
    curMap.foreach { case (_, c) =>
      if (!seen.contains(c)) {
        seen.update(c, true)
        fin.get(c).foreach { f => if (f < c) absorbed += ((c, f)) }
      }
    }
    (labelArr.toSeq.toDF("doc_id", "component"),
      absorbed.toSeq.toDF("old_comp", "new_comp"))
  }

  /** Current cluster labels off the state store: every kind-4 row
    * resolved through the kind-5 mapping closure (mappings record merge
    * events, so components connected via mappings are truly the same
    * final cluster, and the closure's min IS the chain root — merges
    * always adopt the smaller id). Membership is exactly q71's: a doc
    * has a kind-4 row iff it ever appeared in a verified pair. */
  private[graft] def clusterLabels(st: graft.sources.TableStore): DataFrame =
    clusterLabelsFrom(st.table("state"))

  /** [[clusterLabels]] over an EXPLICIT state frame — the seam that lets
    * a time-travel snapshot ([[graft.sources.TableStore.tableAtPin]])
    * serve labels exactly as they stood at a pinned epoch (q221): the
    * kind-4 rows AND the kind-5 mapping closure both come from the same
    * snapshot, so the resolve can never mix eras. */
  private[graft] def clusterLabelsFrom(state: DataFrame): DataFrame = {
    val raw = state.filter(col("kind") === 4)
      .select(col("doc_id"), col("h").as("component"))
    val m = stateMappings(state)
    val closure = DedupClusters.propagateMin(
      m.select(col("old_comp").as("src"), col("new_comp").as("dst"))
        .unionByName(m.select(col("new_comp").as("src"), col("old_comp").as("dst"))))
    raw.join(closure.toDF("component", "root"), Seq("component"), "left")
      .select(col("doc_id"), coalesce(col("root"), col("component")).as("component"))
      .groupBy("doc_id").agg(min(col("component")).as("component"))
  }

  val all: Seq[QueryDef] =
    Seq(q46, q47, q48, q49, q90, q97, q112, q121, q147, q199, q201, q202)
}
