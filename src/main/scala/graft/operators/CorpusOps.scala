package graft.operators

import org.apache.spark.sql.functions._
import graft.core.{QueryDef, Resources, Tables}
import graft.functions.TextFunctions._

/** Corpus-preparation operators rounding out the training-data pipeline:
  * PII redaction, intra-document repetition scoring (Gopher-style),
  * corpus statistics, deterministic hash sampling, and benchmark
  * decontamination. All are narrow per-document work or single-shuffle
  * aggregates/joins — linear at 100 TB.
  */
object CorpusOps {

  /** PII redaction via regex rewrite (emails injected deterministically so
    * the operator has work to do; the pattern is the portable subset that
    * Java regex and RE2 treat identically). */
  val q59 = QueryDef(
    "q59_redact_pii",
    """WITH aug AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 7 = 0
      |         THEN text || ' contact user' || doc_id || '@example.com now'
      |         ELSE text END AS raw
      |  FROM documents)
      |SELECT doc_id,
      |  len(regexp_extract_all(raw, '[a-z0-9._]+@[a-z0-9.]+')) AS n_redacted,
      |  right(regexp_replace(raw, '[a-z0-9._]+@[a-z0-9.]+', '<EMAIL>', 'g'), 30) AS tail_snippet
      |FROM aug ORDER BY doc_id""".stripMargin) { (s, d) =>
    Tables.documents(s, d)
      .withColumn("raw",
        when(col("doc_id") % 7 === 0,
          concat(col("text"), lit(" contact user"), col("doc_id").cast("string"), lit("@example.com now")))
          .otherwise(col("text")))
      .select(col("doc_id"),
        size(regexp_extract_all(col("raw"), lit("[a-z0-9._]+@[a-z0-9.]+"), lit(0))).cast("long").as("n_redacted"),
        expr("right(regexp_replace(raw, '[a-z0-9._]+@[a-z0-9.]+', '<EMAIL>'), 30)").as("tail_snippet"))
      .orderBy("doc_id")
  }

  /** Intra-document repetition (Gopher repetition filter shape): fraction
    * of duplicate 3-gram shingles within each document. */
  val q60 = QueryDef(
    "q60_repetition_score",
    s"""WITH sh AS (
       |  SELECT doc_id, ${shinglesNSql("t", 3)} AS s
       |  FROM (SELECT doc_id, string_split(trim(text), ' ') AS t FROM documents))
       |SELECT doc_id,
       |  len(s) AS n_shingles,
       |  len(list_distinct(s)) AS n_distinct,
       |  1.0 - CAST(len(list_distinct(s)) AS DOUBLE) / CAST(nullif(len(s), 0) AS DOUBLE) AS repetition
       |FROM sh ORDER BY doc_id""".stripMargin) { (s, d) =>
    Tables.documents(s, d)
      .withColumn("t", tokens(col("text")))
      .withColumn("s", shinglesN("t", 3))
      .select(col("doc_id"),
        size(col("s")).cast("long").as("n_shingles"),
        size(array_distinct(col("s"))).cast("long").as("n_distinct"),
        (lit(1.0) - size(array_distinct(col("s"))).cast("double")
          / nullif(size(col("s")), lit(0)).cast("double")).as("repetition"))
      .orderBy("doc_id")
  }

  /** Corpus statistics per (lang, source-prefix) stratum. */
  val q61 = QueryDef(
    "q61_corpus_stats",
    """SELECT lang,
      |  COUNT(*) AS n_docs,
      |  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
      |  CAST(SUM(len(string_split(trim(text), ' '))) AS BIGINT) AS total_tokens,
      |  CAST(SUM(n_chars) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS mean_chars
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin) { (s, d) =>
    Tables.documents(s, d)
      .withColumn("n_tokens", size(tokens(col("text"))))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).cast("bigint").as("total_chars"),
        sum(col("n_tokens")).cast("bigint").as("total_tokens"))
      .select(col("lang"), col("n_docs"), col("total_chars"), col("total_tokens"),
        (col("total_chars").cast("double") / col("n_docs").cast("double")).as("mean_chars"))
      .orderBy("lang")
  }

  /** Deterministic hash sampling (the scalable sampling primitive: no
    * shuffling, reproducible across engines and runs — md5-derived 60-bit
    * hash mod 10). */
  val q62 = QueryDef(
    "q62_deterministic_sample",
    """SELECT doc_id, lang
      |FROM documents
      |WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 10 = 0
      |ORDER BY doc_id""".stripMargin) { (s, d) =>
    Tables.documents(s, d)
      .filter(hash60(col("doc_id").cast("string")) % 10 === 0)
      .select("doc_id", "lang")
      .orderBy("doc_id")
  }

  /** Benchmark decontamination: flag corpus docs sharing any 8-gram with a
    * held-out benchmark set (here: doc_id < 50), the standard n-gram
    * contamination check run before training. */
  /** Shared by q63 (exact) and q130 (bloom-pruned — result must be
    * IDENTICAL, so both gates use the same oracle). */
  private val contaminationOracle =
    s"""WITH sh AS (
       |  SELECT DISTINCT doc_id, unnest(${shinglesNSql("t", 8)}) AS g
       |  FROM (SELECT doc_id, string_split(trim(text), ' ') AS t FROM documents)),
       |bench AS (SELECT doc_id AS bench_id, g FROM sh WHERE doc_id < 50),
       |corpus AS (SELECT doc_id, g FROM sh WHERE doc_id >= 50)
       |SELECT c.doc_id, b.bench_id, COUNT(*) AS n_shared_grams
       |FROM corpus c JOIN bench b ON c.g = b.g
       |GROUP BY 1, 2 ORDER BY doc_id, bench_id""".stripMargin

  val q63 = QueryDef(
    "q63_contamination",
    contaminationOracle) { (s, d) =>
    val sh = Tables.documents(s, d)
      .withColumn("t", tokens(col("text")))
      .withColumn("g", explode(shinglesN("t", 8)))
      .select("doc_id", "g").distinct()
      .cache() // read twice (bench + corpus branches)
    // the benchmark set is tiny by construction → broadcast, so the corpus
    // side streams through a map-side hash join without shuffling
    val bench = broadcast(sh.filter(col("doc_id") < 50).toDF("bench_id", "g"))
    val corpus = sh.filter(col("doc_id") >= 50)
    corpus.join(bench, Seq("g"))
      .groupBy("doc_id", "bench_id")
      .agg(count(lit(1)).as("n_shared_grams"))
      .orderBy("doc_id", "bench_id")
  }

  /** End-to-end corpus curation — the composed training-mix pipeline run
    * as ONE query: exact dedup (keep min doc_id per content hash) →
    * quality gates (q44 semantics, score ≥ 2) → language ID (q43 argmax,
    * keep 'en') → deterministic 50% hash sample (q62 semantics). Each
    * stage is individually gate-checked elsewhere; this query pins their
    * COMPOSITION, which is what a real curation run executes.
    *
    * Scale: one shuffle for the dedup groupBy + semi-join; everything else
    * is narrow per-document expression work and a final filter. */
  val q75 = {
    val sqlScores = StopWords.map { case (lang, words) =>
      s"    ${stopHitsSql("t", words)} AS score_$lang"
    }.mkString(",\n")
    val caseChain = StopWords.map { case (lang, _) =>
      s"WHEN score_$lang = best THEN '$lang'"
    }.mkString(" ")
    QueryDef(
      "q75_curation_pipeline",
      s"""WITH keeper AS (
         |  SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY md5(trim(text))),
         |toks AS (
         |  SELECT d.doc_id, d.text, string_split(trim(d.text), ' ') AS t
         |  FROM documents d JOIN keeper k ON d.doc_id = k.doc_id),
         |feat AS (
         |  SELECT doc_id,
         |    length(text) AS n_chars,
         |    len(t) AS n_tokens,
         |    len(regexp_extract_all(text, '[^a-z0-9 ]')) AS n_punct,
         |$sqlScores
         |  FROM toks),
         |scored AS (SELECT *, greatest(score_de, score_en, score_es, score_fr, score_zh) AS best FROM feat),
         |gated AS (
         |  SELECT doc_id, n_tokens,
         |    (CASE WHEN n_chars BETWEEN 100 AND 500 THEN 1 ELSE 0 END
         |     + CASE WHEN n_tokens >= 15 THEN 1 ELSE 0 END
         |     + CASE WHEN n_punct * 10 <= n_tokens THEN 1 ELSE 0 END) AS quality_score,
         |    CASE $caseChain END AS predicted
         |  FROM scored)
         |SELECT doc_id, predicted, CAST(n_tokens AS BIGINT) AS n_tokens, quality_score
         |FROM gated
         |WHERE quality_score >= 2 AND predicted = 'en'
         |  AND ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 2 = 0
         |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val keeper = docs
        .groupBy(md5(trim(col("text"))).as("h"))
        .agg(min(col("doc_id")).as("doc_id"))
        .select("doc_id")
      var df = docs.join(keeper, Seq("doc_id"), "left_semi")
        .withColumn("t", tokens(col("text")))
        .withColumn("n_chars", length(col("text")).cast("long"))
        .withColumn("n_tokens", size(col("t")).cast("long"))
        .withColumn("n_punct", punctCount(col("text")).cast("long"))
      for ((lang, words) <- StopWords)
        df = df.withColumn(s"score_$lang", stopHits("t", words).cast("long"))
      df = df.withColumn("best",
        greatest(StopWords.map { case (l, _) => col(s"score_$l") }: _*))
      val predicted = StopWords.foldRight(lit(null).cast("string")) {
        case ((lang, _), elseCol) =>
          when(col(s"score_$lang") === col("best"), lang).otherwise(elseCol)
      }
      df.select(col("doc_id"), predicted.as("predicted"), col("n_tokens"),
          (when(col("n_chars").between(100, 500), 1).otherwise(0)
            + when(col("n_tokens") >= 15, 1).otherwise(0)
            + when(col("n_punct") * 10 <= col("n_tokens"), 1).otherwise(0)).as("quality_score"))
        .filter(col("quality_score") >= 2 && col("predicted") === "en"
          && hash60(col("doc_id").cast("string")) % 2 === 0)
        .orderBy("doc_id")
    }
  }

  /** Training-mix weighting: deterministic per-stratum sampling rates (the
    * "upsample en, downsample zh" mix step of corpus assembly). Keep a doc
    * iff hash(doc_id) mod 100 < rate(lang) — shuffle-free, reproducible,
    * and exactly proportional in expectation per stratum. */
  val q79 = {
    val rates = Seq("de" -> 40, "en" -> 80, "es" -> 40, "fr" -> 40, "zh" -> 20)
    val caseSql = rates.map { case (l, r) => s"WHEN '$l' THEN $r" }.mkString(" ")
    QueryDef(
      "q79_mixture_weights",
      s"""WITH sampled AS (
         |  SELECT doc_id, lang FROM documents
         |  WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100
         |        < CASE lang $caseSql ELSE 0 END)
         |SELECT s.doc_id, s.lang, c.n_kept
         |FROM sampled s
         |JOIN (SELECT lang, COUNT(*) AS n_kept FROM sampled GROUP BY 1) c USING (lang)
         |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val rate = rates.foldRight(lit(0)) { case ((l, r), e) =>
        when(col("lang") === l, r).otherwise(e)
      }
      val sampled = Tables.documents(s, d)
        .filter(hash60(col("doc_id").cast("string")) % 100 < rate)
        .select("doc_id", "lang")
        .cache() // read twice (row side + per-lang count aggregate)
      sampled
        .join(broadcast(sampled.groupBy("lang").agg(count(lit(1)).as("n_kept"))), Seq("lang"))
        .select("doc_id", "lang", "n_kept")
        .orderBy("doc_id")
    }
  }

  /** Per-stratum cap: keep at most N docs per language, selected by a
    * deterministic hash order (fair "random" subset, reproducible across
    * engines and runs). Partitioned window — state per stratum only, never
    * a global sort. */
  val q84 = QueryDef(
    "q84_per_stratum_cap",
    """SELECT doc_id, lang FROM (
      |  SELECT doc_id, lang,
      |    ROW_NUMBER() OVER (PARTITION BY lang
      |                       ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
      |  FROM documents) t
      |WHERE rn <= 30
      |ORDER BY doc_id""".stripMargin) { (s, d) =>
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("lang").orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
    Tables.documents(s, d)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 30)
      .select("doc_id", "lang")
      .orderBy("doc_id")
  }

  /** Sequence packing (q92): assign documents to fixed-token-budget packs
    * per language — the "fill each 2048-token context window" step between
    * curation and tokenization in a training pipeline. Deterministic
    * contiguous packing: docs in doc_id order, pack boundary every time
    * the EXCLUSIVE prefix token sum crosses a budget multiple. One
    * partitioned running-sum window (state per language, never a global
    * sort), then pure expression work — linear at any corpus size. */
  val q92 = QueryDef(
    "q92_sequence_packing",
    """WITH t AS (
      |  SELECT doc_id, lang, len(string_split(trim(text), ' ')) AS n_tokens
      |  FROM documents),
      |c AS (
      |  SELECT doc_id, lang, n_tokens,
      |    SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens AS prior
      |  FROM t)
      |SELECT doc_id, lang, CAST(n_tokens AS BIGINT) AS n_tokens,
      |  CAST(prior // 2048 AS BIGINT) AS pack_id
      |FROM c ORDER BY doc_id""".stripMargin) { (s, d) =>
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("lang").orderBy("doc_id")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    Tables.documents(s, d)
      .withColumn("n_tokens", size(graft.functions.TextFunctions.tokens(col("text"))).cast("long"))
      .withColumn("prior", sum(col("n_tokens")).over(w) - col("n_tokens"))
      .select(col("doc_id"), col("lang"), col("n_tokens"),
        floor(col("prior") / 2048).as("pack_id"))
      .orderBy("doc_id")
  }

  /** q151: token-weighted SYSTEMATIC sampling (PPS without randomness) —
    * select ~n documents with probability proportional to token count by
    * walking the global cumulative token line and picking every
    * (total div n)-th token's owning document; long documents can be
    * selected with multiplicity > 1 (the honest PPS semantics). The
    * deterministic workhorse behind "sample 1B tokens for evaluation":
    * reproducible across engines, runs and cluster sizes — no rand().
    *
    * Scale posture: the global cumulative sum is computed as a TWO-LEVEL
    * distributed prefix sum — per-bucket partial sums (one map-side
    * combinable aggregate over doc_id div 1000 buckets), an exclusive
    * prefix over the SMALL bucket frame (a window over corpus/1000 rows —
    * three orders below the corpus; recurse the same trick if buckets
    * ever outgrow one partition), and a broadcast join back for the
    * within-bucket window partitioned by bucket. No global-sort window
    * over raw documents anywhere. All arithmetic is exact integers; the
    * selection count per doc is two floor divisions. */
  val q151 = QueryDef(
    "q151_weighted_systematic_sample",
    """WITH t AS (
      |  SELECT doc_id, len(string_split(trim(text), ' ')) AS w FROM documents),
      |c AS (
      |  SELECT doc_id, w,
      |    SUM(w) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS ci FROM t),
      |s AS (SELECT (SELECT SUM(w) FROM t) // 100 AS step)
      |SELECT doc_id, CAST(w AS BIGINT) AS n_tokens,
      |  CAST(ci // step - (ci - w) // step AS BIGINT) AS multiplicity
      |FROM c, s
      |WHERE ci // step - (ci - w) // step >= 1
      |ORDER BY doc_id""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val t = Tables.documents(s, d)
      .select(col("doc_id"),
        size(graft.functions.TextFunctions.tokens(col("text"))).cast("long").as("w"))
      .withColumn("bucket", expr("doc_id div 1000"))
    // level 1: bucket partial sums (tiny frame, map-side combined)
    val bucketSums = t.groupBy("bucket").agg(sum(col("w")).as("bw"))
    // level 2: exclusive prefix over the bucket frame only
    val bucketOffsets = bucketSums.withColumn("off",
      coalesce(sum(col("bw")).over(
        Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    val withCum = t
      .join(broadcast(bucketOffsets.select(col("bucket"), col("off"))), Seq("bucket"))
      .withColumn("ci", col("off") + sum(col("w")).over(
        Window.partitionBy("bucket").orderBy("doc_id")
          .rowsBetween(Window.unboundedPreceding, 0)))
    val step = t.agg(expr("sum(w) div 100").as("step")) // integer div: exact on both engines
    withCum.crossJoin(broadcast(step))
      .withColumn("multiplicity",
        expr("ci div step - (ci - w) div step"))
      .filter(col("multiplicity") >= 1)
      .select(col("doc_id"), col("w").as("n_tokens"), col("multiplicity"))
      .orderBy("doc_id")
  }

  /** Deterministic corpus shuffle (q93): the global reshuffle a training
    * run applies before sequence packing — every doc gets a shard (hash
    * mod 8) and a position within its shard (rank by a second hash
    * slice), reproducible across engines, runs and cluster sizes (no
    * rand()). Scale: one hash-partitioned window per shard; the per-shard
    * sort IS what a corpus shuffle costs, distributed over shards. */
  val q93 = QueryDef(
    "q93_corpus_shuffle",
    """WITH h AS (
      |  SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS hx FROM documents)
      |SELECT doc_id,
      |  CAST(('0x' || substr(hx, 1, 8))::BIGINT % 8 AS INT) AS shard,
      |  CAST(ROW_NUMBER() OVER (
      |    PARTITION BY ('0x' || substr(hx, 1, 8))::BIGINT % 8
      |    ORDER BY substr(hx, 9, 8), doc_id) AS BIGINT) AS pos
      |FROM h ORDER BY doc_id""".stripMargin) { (s, d) =>
    val hx = md5(col("doc_id").cast("string"))
    val shard = (conv(substring(hx, 1, 8), 16, 10).cast("long") % 8).cast("int")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(shard).orderBy(substring(hx, 9, 8), col("doc_id"))
    Tables.documents(s, d)
      .select(col("doc_id"), shard.as("shard"),
        row_number().over(w).cast("long").as("pos"))
      .orderBy("doc_id")
  }

  /** q111: token-budget selection — per source, admit the highest-quality
    * documents until a token budget fills (the budgeted-curation step
    * between scoring and training-mix assembly: q44 scores, q79 weights
    * strata, THIS decides which documents actually make the cut). Quality
    * is chars-per-token (an exact-integer ratio → identical IEEE double
    * on both engines); admission is a running token sum over a window
    * partitioned by source, ordered (quality DESC, doc_id) — unique
    * ordering, exact BIGINT sums, so the cut landing is bit-deterministic.
    * Scale: one partitioned window, no global sort, no driver state. */
  val q111 = QueryDef(
    "q111_budget_selection",
    """WITH scored AS (
      |  SELECT doc_id, source, len(string_split(trim(text), ' ')) AS ntok,
      |    CAST(n_chars AS DOUBLE) / len(string_split(trim(text), ' ')) AS q
      |  FROM documents),
      |sel AS (
      |  SELECT doc_id, source, ntok,
      |    CAST(SUM(ntok) OVER (PARTITION BY source ORDER BY q DESC, doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
      |  FROM scored)
      |SELECT doc_id, source, ntok, cum_tokens
      |FROM sel WHERE cum_tokens <= 2000 ORDER BY doc_id""".stripMargin) { (s, d) =>
    val scored = Tables.documents(s, d)
      .select(col("doc_id"), col("source"),
        size(tokens(col("text"))).cast("long").as("ntok"),
        (col("n_chars").cast("double") / size(tokens(col("text")))).as("q"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy(col("q").desc, col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    scored
      .withColumn("cum_tokens", sum(col("ntok")).over(w))
      .filter(col("cum_tokens") <= 2000)
      .select("doc_id", "source", "ntok", "cum_tokens")
      .orderBy("doc_id")
  }

  /** q191: per-source token budget for the streaming admission gate —
    * small enough to bite at every test scale (per-source corpora are
    * ≥ ~1.1k tokens from sf0.001 up), so the cut lands mid-stream and the
    * oracle actually exercises the carried-state arithmetic. */
  private[graft] val AdmissionBudgetTokens = 800L

  /** q191: STREAMING corpus admission control — q111's token-budget
    * selection in ARRIVAL order, the form an unbounded ingest actually
    * runs: an infinite stream cannot be re-ranked by quality first, so
    * admission is first-come within each source until that source's
    * token budget fills. The corpus replays as four strictly
    * doc_id-ordered micro-batches (the q189 staging discipline); a
    * `foreachBatch` sink computes each batch's within-batch running
    * totals (one partitioned window — distributed), folds in the carried
    * per-source totals via a broadcast join, and commits the admitted
    * rows plus the new per-source totals in ONE ledgered append to the
    * store's `admission_log` — carried state is O(#sources), independent
    * of corpus size (the bounded-collect class: one ≤#sources-row
    * aggregate per batch).
    *
    * Correctness: strict doc_id slicing makes carried + within-batch
    * cumsum ≡ the global per-source cumulative sum in doc_id order —
    * exact BIGINT arithmetic both engines share, so the cut lands
    * bit-identically. BOTH cross-batch effects (the admitted append and
    * the carried-totals upsert) route through the store's exactly-once
    * epoch ledger ([[AdmissionGate]] — the q189 pattern, ADVICE r10 #1), so
    * a restarted epoch no-ops instead of double-counting carried totals
    * or duplicating admitted rows; AdmissionGateRestartSpec injects the
    * crash and asserts it.
    *
    * Scale posture: token counting happens ONCE, before staging, so text
    * bytes never replay — staged rows are (doc_id, source, ntok); each
    * batch costs one window over the batch plus a broadcast join against
    * ≤ #sources carried totals; nothing row-scale touches the driver. */
  val q191 = QueryDef(
    "q191_streaming_admission_gate",
    """WITH t AS (
      |  SELECT doc_id, source,
      |         CAST(len(string_split(trim(text), ' ')) AS BIGINT) AS ntok
      |  FROM documents),
      |c AS (
      |  SELECT doc_id, source, ntok,
      |    CAST(SUM(ntok) OVER (PARTITION BY source ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
      |  FROM t)
      |SELECT doc_id, source, ntok, cum_tokens
      |FROM c WHERE cum_tokens <= 800 ORDER BY doc_id""".stripMargin)(q191Impl()(_, _))

  /** q191 body; `rowsPerFile` sizes the staged replay files (specs pass a
    * tiny value to force the multi-file aligned-batch path at test
    * scale); `budget` is the per-source admission cap. */
  private[graft] def q191Impl(rowsPerFile: Long = EventsOps.OuterStageRowsPerFile,
      budget: Long = AdmissionBudgetTokens)(
      s: org.apache.spark.sql.SparkSession, d: String): org.apache.spark.sql.DataFrame = {
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("source"),
        size(tokens(col("text"))).cast("long").as("ntok"))
    Resources.scratchStore(s, "graft-admit-store") { st =>
      admitCreateTables(st, docs)
      val gate = new AdmissionGate(st, budget)
      // four strict doc_id quarter-range slices (the q189 staging shape)
      Epochs.streamed(s, Epochs.slice(docs, col("doc_id"), 4), rowsPerFile,
        "q191_admit_sink")(gate.admit)
      admittedRows(st).orderBy("doc_id")
    }
  }

  /** Create the q191 admission log: ONE table carrying both the gate's
    * output rows and its carried state (see [[AdmissionGate]]). */
  private[graft] def admitCreateTables(st: graft.sources.TableStore,
      docs: org.apache.spark.sql.DataFrame): Unit =
    st.create("admission_log", docs.limit(0).withColumn("cum_tokens", lit(0L))
      .select("doc_id", "source", "ntok", "cum_tokens"))

  /** Admitted rows of the admission log (the state sentinels carry a NULL
    * doc_id — see [[AdmissionGate]]). */
  private[graft] def admittedRows(st: graft.sources.TableStore) =
    st.table("admission_log").filter(col("doc_id").isNotNull)

  /** The q191 admission sink shared with the restart spec: per epoch,
    * fold the carried per-source totals into the batch's running sums and
    * commit the epoch's admitted rows AND its new carried state in ONE
    * ledgered append (ADVICE r10 #1) — a restarted epoch re-offering a
    * committed id can neither duplicate admitted rows nor double-count
    * carried totals.
    *
    * State representation: the carried per-source totals ride the SAME
    * `admission_log` table as one sentinel row per source and epoch
    * (doc_id NULL, cum_tokens = the ABSOLUTE cumulative token count —
    * including cut documents, so it is ≥ every admitted row's
    * cum_tokens). Totals are monotone per source, so the live state is
    * simply `max(cum_tokens) per source` over the whole table, with no
    * epoch bookkeeping. Riding one append means output and state commit
    * ATOMICALLY with the ledger flip — the Kafka
    * offsets-with-transactional-output shape — so there is no crash
    * window between "rows landed" and "state advanced" at all, and each
    * epoch pays ONE store flip instead of a 5-job MERGE plus a second
    * append (the r11 cost profile that motivated this: ~0.5 s per store
    * op at bench scale).
    *
    * The in-memory `carried` map is only a CACHE of the durable state:
    * (re)hydrated from the table at construction (covering JVM restarts)
    * and re-read whenever the ledger reports a replayed epoch — a replay
    * recomputed from an already-advanced cache would be wrong, but its
    * append no-ops on the ledger, so nothing wrong lands. */
  private[graft] final class AdmissionGate(st: graft.sources.TableStore,
      budget: Long) {
    import org.apache.spark.sql.DataFrame
    private def durableTotals(): Map[String, Long] =
      st.table("admission_log").groupBy("source")
        .agg(max(col("cum_tokens")).as("total"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // cache of the durable per-source totals — ≤ #sources entries
    private var carried: Map[String, Long] = durableTotals()

    def admit(batch: DataFrame, epoch: Long): Unit = {
      val s = batch.sparkSession
      import s.implicits._
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("source").orderBy("doc_id")
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)
      val carriedDf = carried.toSeq.toDF("source", "prior")
      val scored = batch
        .withColumn("run", sum(col("ntok")).over(w))
        .join(broadcast(carriedDf), Seq("source"), "left")
        .withColumn("cum_tokens", col("run") + coalesce(col("prior"), lit(0L)))
        .persist()
      try {
        // one small job for the batch's absolute totals (also the cache
        // update — bounded: ≤ #sources rows)
        val totals = scored.groupBy("source")
          .agg(max(col("cum_tokens")).as("total"))
          .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
        val admitted = scored
          .filter(col("cum_tokens") <= budget)
          .select("doc_id", "source", "ntok", "cum_tokens")
        val sentinels = totals
          .toDF("source", "cum_tokens")
          .select(lit(null).cast("long").as("doc_id"), col("source"),
            lit(null).cast("long").as("ntok"), col("cum_tokens"))
        // budget-bounded per source — one file per epoch, not 32
        val applied = st.appendBatch("admission_log", epoch,
          admitted.unionByName(sentinels).coalesce(1))
        carried =
          if (applied) carried ++ totals
          else durableTotals() // replayed epoch: trust only the store
      } finally { scored.unpersist(); () }
      ()
    }
  }

  /** Bloom-pruned decontamination — q63's semantics at the 100 TB shape:
    * at scale the corpus side is petabytes of shingles and even a
    * broadcast-hash join visits every corpus row; a bloom sketch over the
    * BENCHMARK grams (tiny by construction) is a few hundred KB, ships as
    * a scan-level `bloom_might_contain` literal, and drops the ~99% of
    * corpus shingles that cannot match before any join work. False
    * positives only waste probe work — the exact join behind the prune
    * keeps the output bit-identical, which is why this gate reuses q63's
    * oracle verbatim. Same mechanism as q96, crossing from relational
    * into corpus curation. */
  val q130 = QueryDef(
    "q130_bloom_decontaminate",
    contaminationOracle) { (s, d) =>
    val sh = Tables.documents(s, d)
      .withColumn("t", tokens(col("text")))
      .withColumn("g", explode(shinglesN("t", 8)))
      .select("doc_id", "g").distinct()
      .cache()
    val bench = sh.filter(col("doc_id") < 50).toDF("bench_id", "g")
    val corpus = sh.filter(col("doc_id") >= 50)
    val pruned = BloomJoin.prunePredicate(bench.select("g"), col("g"), estItems = 4096L)
      .map(corpus.filter).getOrElse(corpus)
    pruned.join(broadcast(bench), Seq("g"))
      .groupBy("doc_id", "bench_id")
      .agg(count(lit(1)).as("n_shared_grams"))
      .orderBy("doc_id", "bench_id")
  }

  /** One epoch of INCREMENTAL decontamination: the arriving batch's
    * distinct 8-gram shingles are checked against the static benchmark
    * gram set — `benchPrune` (the q130 bloom literal, built ONCE by the
    * caller since the benchmark never changes) drops the ~all
    * non-matching shingles at the scan, the broadcast join restores
    * exactness — and the per-doc verdict rows commit as ONE ledgered
    * append, so contaminated docs are flagged the moment they land and a
    * replayed epoch no-ops (the q199 append discipline). Per-doc counts
    * are complete because a doc lands wholly in one epoch; the union
    * over epochs is exactly the monolithic q63/q130 result, which IS
    * q213's oracle. */
  private[graft] def decontamIngestEpoch(st: graft.sources.TableStore,
      benchGrams: org.apache.spark.sql.DataFrame,
      benchPrune: Option[org.apache.spark.sql.Column])(
      batch: org.apache.spark.sql.DataFrame, epoch: Long): Unit = {
    if (st.batchCommitted("contam", epoch)) return
    val sh = batch
      .withColumn("t", tokens(col("text")))
      .withColumn("g", explode(shinglesN("t", 8)))
      .select("doc_id", "g").distinct()
    val pruned = benchPrune.map(sh.filter).getOrElse(sh)
    val verdicts = pruned.join(broadcast(benchGrams), Seq("g"))
      .groupBy("doc_id", "bench_id")
      .agg(count(lit(1)).as("n_shared_grams"))
    st.appendBatch("contam", epoch, verdicts); ()
  }

  /** The distinct benchmark gram set (bench_id, g) + its bloom-prune
    * literal, built once before ingest begins — the benchmark is
    * held-out state known up front. Caller persists/unpersists. */
  private[graft] def benchGramSet(docs: org.apache.spark.sql.DataFrame)
      : (org.apache.spark.sql.DataFrame, Option[org.apache.spark.sql.Column]) = {
    val bench = docs.filter(col("doc_id") < 50)
      .withColumn("t", tokens(col("text")))
      .withColumn("g", explode(shinglesN("t", 8)))
      .select(col("doc_id").as("bench_id"), col("g")).distinct()
      .persist()
    (bench, BloomJoin.prunePredicate(bench.select("g"), col("g"), estItems = 4096L))
  }

  /** q213: decontamination UNDER INGEST — q63/q130's benchmark check run
    * the moment each batch arrives instead of as an offline sweep: four
    * doc_id-ordered epochs append their verdict rows through the epoch
    * ledger ([[decontamIngestEpoch]]), and the accumulated verdict table
    * must equal the monolithic recomputation over the full corpus — the
    * maintained-family discipline applied to contamination flagging. A
    * training pipeline reads the verdicts store-locally at release time;
    * no corpus rescan ever happens.
    *
    * Scale posture: per-epoch cost is batch shingling + the bloom-pruned
    * broadcast join (benchmark side tiny by construction); the corpus is
    * never re-read, and the verdict table grows only by actual hits. */
  val q213 = QueryDef(
    "q213_incremental_decontamination",
    contaminationOracle) { (s, d) =>
    val docs = Tables.documents(s, d).select("doc_id", "text")
    val (bench, prune) = benchGramSet(docs)
    try Resources.scratchStore(s, "graft-contam") { st =>
      st.create("contam", docs.limit(0).select(col("doc_id"),
        col("doc_id").as("bench_id"), col("doc_id").as("n_shared_grams")))
      val corpus = docs.filter(col("doc_id") >= 50)
      Epochs.direct(Epochs.slice(corpus, col("doc_id"), 4))(
        decontamIngestEpoch(st, bench, prune))
      st.table("contam").orderBy("doc_id", "bench_id")
    } finally { bench.unpersist(); () }
  }

  /** q219: decontamination under a REAL `writeStream` — q213's verdict
    * store built by Structured Streaming driving
    * [[graft.streaming.ContamIngest.contamIngestSink]] over the shared
    * staged replay (VERDICT r16 next #3: the sink had a crash-injected
    * writeStream SPEC but no oracle gate drove it end-to-end), so the
    * stream wiring — micro-batch sessions, epoch ids, replay-on-restart
    * — is on the gated path for contamination flagging too. Oracle =
    * q63/q130's monolithic recomputation verbatim.
    *
    * Scale posture: q213's — per-epoch cost is batch shingling + the
    * bloom-pruned broadcast join; the corpus is never re-read. */
  val q219 = QueryDef(
    "q219_streamed_decontamination",
    contaminationOracle)(streamedContamImpl()(_, _))

  /** q219 body; `rowsPerFile` sizes the staged replay files (specs pass
    * a tiny value to force the multi-file aligned-batch path). */
  private[graft] def streamedContamImpl(
      rowsPerFile: Long = EventsOps.OuterStageRowsPerFile, slices: Int = 2)(
      s: org.apache.spark.sql.SparkSession, d: String)
      : org.apache.spark.sql.DataFrame = {
    val docs = Tables.documents(s, d).select("doc_id", "text")
    val (bench, prune) = benchGramSet(docs)
    try Resources.scratchStore(s, "graft-contam-stream") { st =>
      st.create("contam", docs.limit(0).select(col("doc_id"),
        col("doc_id").as("bench_id"), col("doc_id").as("n_shared_grams")))
      val corpus = docs.filter(col("doc_id") >= 50)
      Epochs.streamed(s, Epochs.slice(corpus, col("doc_id"), slices), rowsPerFile,
        "q219_contam_sink")(
        graft.streaming.ContamIngest.contamIngestSink(st, bench, prune))
      st.table("contam").orderBy("doc_id", "bench_id")
    } finally { bench.unpersist(); () }
  }

  /** q157: cross-source containment matrix — for every ordered source
    * pair, how much of source A's distinct 5-gram set also appears in
    * source B (ppm). The corpus-mixing diagnostic: high containment means
    * one slice is largely redundant given another (pretraining mixes get
    * pruned on exactly this signal); it is q63's contamination idea lifted
    * from doc-vs-benchmark to slice-vs-slice.
    *
    * Scale posture (reworked r14 — a stage probe attributed ~all of the 10×
    * growth, 4.22× in scale_r13_10x.json, to the corpus-wide self-join on
    * the gram key): the exploded grams cross ONE shuffle, a groupBy(g)
    * whose per-gram state is the SET of sources containing g — bounded by
    * |sources| (a corpus has dozens of slices by contract, never millions)
    * and map-side combined. Pair counts and per-source set sizes both
    * collapse from that per-gram frame straight to ≤ |sources|² rows, so
    * the old self-join's two extra corpus-proportional exchanges (plus the
    * (source, g) distinct's) are gone; the two consumers share the one
    * gram exchange via ReuseExchange. Shares are exact integer ppm — no
    * float division. */
  val q157 = QueryDef(
    "q157_source_containment",
    s"""WITH sh AS (
       |  SELECT DISTINCT source, unnest(${shinglesNSql("t", 5)}) AS g
       |  FROM (SELECT source, string_split(trim(text), ' ') AS t FROM documents)),
       |sz AS (SELECT source, COUNT(*) AS n_grams FROM sh GROUP BY 1),
       |ix AS (SELECT a.source AS source_a, b.source AS source_b, COUNT(*) AS n_common
       |       FROM sh a JOIN sh b ON a.g = b.g AND a.source <> b.source
       |       GROUP BY 1, 2)
       |SELECT i.source_a, i.source_b, za.n_grams AS n_a, zb.n_grams AS n_b,
       |  i.n_common,
       |  CAST((i.n_common * 1000000) // za.n_grams AS BIGINT) AS containment_a_in_b_ppm
       |FROM ix i
       |JOIN sz za ON za.source = i.source_a
       |JOIN sz zb ON zb.source = i.source_b
       |ORDER BY source_a, source_b""".stripMargin) { (s, d) =>
    // per-gram source sets: collect_set dedups (source, g) repeats, so no
    // separate distinct pass; this is the only corpus-proportional shuffle
    val bySrc = Tables.documents(s, d)
      .select(col("source"), tokens(col("text")).as("t"))
      .select(col("source"), explode(shinglesN("t", 5)).as("g"))
      .groupBy("g").agg(collect_set(col("source")).as("srcs"))
    val sz = bySrc.select(explode(col("srcs")).as("source"))
      .groupBy("source").agg(count(lit(1)).as("n_grams"))
    val ix = bySrc
      .select(explode(col("srcs")).as("source_a"), col("srcs"))
      .select(col("source_a"), explode(col("srcs")).as("source_b"))
      .filter(col("source_a") =!= col("source_b"))
      .groupBy("source_a", "source_b").agg(count(lit(1)).as("n_common"))
    ix.join(sz.toDF("source_a", "n_a"), Seq("source_a"))
      .join(sz.toDF("source_b", "n_b"), Seq("source_b"))
      .select(col("source_a"), col("source_b"), col("n_a"), col("n_b"), col("n_common"),
        expr("(n_common * 1000000) div n_a").as("containment_a_in_b_ppm"))
      .orderBy("source_a", "source_b")
  }

  /** q168: quantile normalization of a per-doc feature — every document's
    * token count becomes its EXACT within-language percentile (ppm), the
    * standard feature-normalization step before cross-language mixing
    * (raw length is incomparable across languages; its rank is).
    * pct_ppm = (#docs in the language with strictly fewer tokens) · 10^6
    * div (n_lang − 1); single-doc languages pin to 0.
    *
    * Scale posture: NO window over the corpus — the doc frame collapses
    * to a (lang, n_tokens) HISTOGRAM (bounded by languages × max token
    * count) in one map-side aggregate; the strictly-less cumulative runs
    * over that histogram; docs get their percentile back via a shuffle
    * equi-join on (lang, n_tokens). The q162/q128 histogram discipline
    * applied to rank normalization. */
  val q168 = QueryDef(
    "q168_quantile_normalize",
    """WITH t AS (
      |  SELECT doc_id, lang, len(string_split(trim(text), ' ')) AS n_tokens
      |  FROM documents),
      |h AS (SELECT lang, n_tokens, COUNT(*) AS c FROM t GROUP BY 1, 2),
      |cum AS (
      |  SELECT lang, n_tokens,
      |    CAST(SUM(c) OVER (PARTITION BY lang ORDER BY n_tokens
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - c AS BIGINT) AS n_lt,
      |    CAST(SUM(c) OVER (PARTITION BY lang) AS BIGINT) AS n_lang
      |  FROM h)
      |SELECT t.doc_id, t.lang, CAST(t.n_tokens AS BIGINT) AS n_tokens,
      |  CAST((cum.n_lt * 1000000) // greatest(cum.n_lang - 1, 1) AS BIGINT)
      |    AS pct_ppm
      |FROM t JOIN cum ON cum.lang = t.lang AND cum.n_tokens = t.n_tokens
      |ORDER BY doc_id""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val t = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"),
        size(tokens(col("text"))).cast("long").as("n_tokens"))
    val h = t.groupBy("lang", "n_tokens").agg(count(lit(1)).as("c"))
    val wOrd = Window.partitionBy("lang").orderBy("n_tokens")
      .rowsBetween(Window.unboundedPreceding, 0)
    val cum = h
      .withColumn("n_lt", sum(col("c")).over(wOrd) - col("c"))
      .withColumn("n_lang", sum(col("c")).over(Window.partitionBy("lang")))
      .select("lang", "n_tokens", "n_lt", "n_lang")
    t.join(cum, Seq("lang", "n_tokens"))
      .select(col("doc_id"), col("lang"), col("n_tokens"),
        expr("(n_lt * 1000000) div greatest(n_lang - 1, 1)").as("pct_ppm"))
      .orderBy("doc_id")
  }

  /** q192: language-model fit filter — the CCNet recipe (Wenzek et al.,
    * "CCNet: Extracting High Quality Monolingual Datasets from Web Crawl
    * Data"): train an n-gram LM on a trusted reference slice, score every
    * document by how well the LM predicts it, and split the corpus into
    * head/middle/tail quality buckets. Here the LM is the corpus's own
    * order-1 (bigram) model trained on the reference sources src0–src4,
    * the per-document score is the exact arithmetic mean of per-bigram
    * model probabilities in ppm (integer surrogate for log-perplexity —
    * logs are not bit-portable across engines, integer ppm division is),
    * and the split is quartile-bounded: head = top quartile of fit,
    * tail = bottom quartile, middle between. 0.25/0.75 are exact binary
    * fractions, so the `percentile`/`quantile_cont` interpolation is
    * bit-identical on both engines (the q68 contract).
    *
    * Scale posture: bigram fan-out is narrow per-doc work; the LM table
    * (distinct reference bigrams — vocabulary-bounded, not corpus-bounded)
    * builds with two hash aggregates; scoring is ONE equi-join of the
    * exploded corpus against the LM on (prev, nxt) — AQE broadcasts it
    * when the reference slice is small, shuffles otherwise — then a
    * per-doc aggregate. The quartile thresholds are a 1-row broadcast.
    * Nothing quadratic, nothing driver-side, no windows over token rows. */
  val q192 = QueryDef(
    "q192_lm_fit_filter",
    s"""WITH en AS (
       |  SELECT doc_id, source, string_split(trim(text), ' ') AS t
       |  FROM documents WHERE lang = 'en'),
       |pairs AS (
       |  SELECT doc_id, source,
       |    split_part(b, ' ', 1) AS prev, split_part(b, ' ', 2) AS nxt
       |  FROM (SELECT doc_id, source, unnest(${graft.functions.TextFunctions.shinglesNSql("t", 2)}) AS b FROM en)),
       |c AS (SELECT prev, nxt, COUNT(*) AS n FROM pairs
       |      WHERE source IN ('src0', 'src1', 'src2', 'src3', 'src4')
       |      GROUP BY 1, 2),
       |tot AS (SELECT prev, CAST(SUM(n) AS BIGINT) AS total FROM c GROUP BY 1),
       |lm AS (SELECT c.prev, c.nxt, (c.n * 1000000) // t.total AS p_ppm
       |       FROM c JOIN tot t USING (prev)),
       |scored AS (
       |  SELECT p.doc_id,
       |    CAST(SUM(COALESCE(l.p_ppm, 0)) // COUNT(*) AS BIGINT) AS fit_ppm
       |  FROM pairs p LEFT JOIN lm l ON l.prev = p.prev AND l.nxt = p.nxt
       |  GROUP BY 1),
       |th AS (SELECT quantile_cont(fit_ppm, 0.25) AS t_lo,
       |              quantile_cont(fit_ppm, 0.75) AS t_hi FROM scored)
       |SELECT CASE WHEN fit_ppm > t_hi THEN 'head'
       |            WHEN fit_ppm > t_lo THEN 'middle' ELSE 'tail' END AS bucket,
       |  COUNT(*) AS n_docs, CAST(SUM(fit_ppm) AS BIGINT) AS sum_fit_ppm,
       |  MIN(fit_ppm) AS min_fit_ppm, MAX(fit_ppm) AS max_fit_ppm
       |FROM scored, th
       |GROUP BY 1 ORDER BY bucket""".stripMargin) { (s, d) =>
    val pairs = Tables.documents(s, d)
      .filter(col("lang") === "en")
      .select(col("doc_id"), col("source"), tokens(col("text")).as("t"))
      .select(col("doc_id"), col("source"), explode(shinglesN("t", 2)).as("b"))
      .select(col("doc_id"), col("source"),
        split_part(col("b"), lit(" "), lit(1)).as("prev"),
        split_part(col("b"), lit(" "), lit(2)).as("nxt"))
    val c = pairs
      .filter(col("source").isin("src0", "src1", "src2", "src3", "src4"))
      .groupBy("prev", "nxt").agg(count(lit(1)).as("n"))
    val tot = c.groupBy("prev").agg(sum(col("n")).as("total"))
    val lm = c.join(tot, Seq("prev"))
      .select(col("prev"), col("nxt"), expr("(n * 1000000) div total").as("p_ppm"))
    val scored = pairs.join(lm, Seq("prev", "nxt"), "left")
      .groupBy("doc_id")
      .agg(sum(coalesce(col("p_ppm"), lit(0L))).as("s"), count(lit(1)).as("cnt"))
      .select(col("doc_id"), expr("s div cnt").cast("long").as("fit_ppm"))
    val th = scored.agg(expr("percentile(fit_ppm, 0.25)").as("t_lo"),
      expr("percentile(fit_ppm, 0.75)").as("t_hi"))
    scored.crossJoin(broadcast(th))
      .select(when(col("fit_ppm") > col("t_hi"), "head")
        .when(col("fit_ppm") > col("t_lo"), "middle")
        .otherwise("tail").as("bucket"), col("fit_ppm"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("fit_ppm")).cast("long").as("sum_fit_ppm"),
        min(col("fit_ppm")).as("min_fit_ppm"),
        max(col("fit_ppm")).as("max_fit_ppm"))
      .orderBy("bucket")
  }

  /** Number of output shards for the q194 manifest. Fixed so the oracle
    * SQL and the Spark plan agree by construction; a production run passes
    * the cluster's writer parallelism here. */
  private[graft] val ShardCount = 8L

  /** q194: balanced shard planning — the manifest step every large-scale
    * training run needs before writing data shards: assign each document
    * to one of N shards so per-shard token mass is balanced, without any
    * sequential bin-packing pass. Deterministic serpentine (boustrophedon)
    * striping over the size-descending global order: rank docs by
    * (n_tokens DESC, doc_id), walk shards left-to-right then right-to-left
    * per block of N — a classic LPT-style balancer whose imbalance is
    * bounded by one document per shard, fully parallel, and bit-identical
    * on both engines because the order is total.
    *
    * Scale posture: the global row index uses the q22/q151 two-level
    * prefix-sum shape — ONE range exchange supplies size-ordered buckets,
    * per-bucket counts (≤64 rows) take the only window, and the in-bucket
    * row_number is a partitioned window. No global-sort single-partition
    * window anywhere; the grand total for share_ppm is a 1-row broadcast. */
  val q194 = QueryDef(
    "q194_shard_plan",
    s"""WITH toks AS (
       |  SELECT doc_id, len(string_split(trim(text), ' ')) AS n_tokens
       |  FROM documents),
       |idx AS (
       |  SELECT doc_id, n_tokens,
       |    ROW_NUMBER() OVER (ORDER BY n_tokens DESC, doc_id) AS i
       |  FROM toks),
       |sh AS (
       |  SELECT doc_id, n_tokens,
       |    CASE WHEN ((i-1) // $ShardCount) % 2 = 0 THEN (i-1) % $ShardCount
       |         ELSE ${ShardCount - 1} - ((i-1) % $ShardCount) END AS shard
       |  FROM idx),
       |tot AS (SELECT SUM(n_tokens) AS tt FROM sh)
       |SELECT shard, COUNT(*) AS n_docs,
       |  CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
       |  CAST(MAX(n_tokens) AS BIGINT) AS max_doc_tokens,
       |  CAST((SUM(n_tokens) * 1000000) // MIN(tt) AS BIGINT) AS share_ppm
       |FROM sh, tot GROUP BY shard ORDER BY shard""".stripMargin) { (s, d) =>
    val sh = shardPlan(s, d)
    val tot = sh.agg(sum(col("n_tokens")).as("tt"))
    sh.crossJoin(broadcast(tot))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).cast("long").as("sum_tokens"),
        max(col("n_tokens")).cast("long").as("max_doc_tokens"),
        expr("(sum(n_tokens) * 1000000) div min(tt)").cast("long").as("share_ppm"))
      .orderBy("shard")
  }

  /** The q194 serpentine shard assignment, shared with q196's write path:
    * every document of the corpus with its `n_tokens` and assigned
    * `shard`, plus any requested `payload` columns riding the exchange
    * (q196 carries source + text — at 100 TB the payload bytes must move
    * through exactly this exchange to land in their shard files, so
    * carrying them here IS the minimal data motion, not overhead). */
  /** Distributed global ROW_NUMBER over a total `order` — the q22/q151
    * two-level prefix-sum shape, factored out of [[shardPlan]] (r11) so
    * every global-order operator (q194 sharding, q197 curriculum) shares
    * it: ONE range exchange supplies order-aligned buckets, per-bucket
    * counts (≤64 rows) take the only unpartitioned window, and the
    * in-bucket row_number is a partitioned window. No global-sort
    * single-partition window anywhere. Emits the input columns plus `i`
    * (1-based global rank).
    *
    * Pins ONE materialized bucketing so the offsets branch and the index
    * branch see identical partition assignments (the q22 exchange-reuse
    * lesson). */
  /** The bucket leg of [[globalRowIndex]] before materialization —
    * exposed so IncrementalPlanSpec can assert its plan is exactly ONE
    * range exchange (the checkpoint in globalRowIndex truncates lineage,
    * hiding the exchange from the result frame's plan). */
  private[graft] def rangeBuckets(df: org.apache.spark.sql.DataFrame,
      order: org.apache.spark.sql.Column*): org.apache.spark.sql.DataFrame =
    df.repartitionByRange(64, order: _*)
      .withColumn("__b", spark_partition_id())

  private[graft] def globalRowIndex(df: org.apache.spark.sql.DataFrame,
      order: org.apache.spark.sql.Column*): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val buckets = Resources.pin(rangeBuckets(df, order: _*))
    val offsets = buckets.groupBy("__b").agg(count(lit(1)).as("__bn"))
      .withColumn("__off", coalesce(sum(col("__bn")).over(
        Window.orderBy("__b").rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("__b", "__off")
    buckets
      .join(broadcast(offsets), Seq("__b"))
      .withColumn("i", col("__off") + row_number().over(
        Window.partitionBy("__b").orderBy(order: _*)))
      .drop("__b", "__off")
  }

  private[graft] def shardPlan(s: org.apache.spark.sql.SparkSession, d: String,
      payload: Seq[String] = Nil): org.apache.spark.sql.DataFrame = {
    val toks = Tables.documents(s, d)
      .select(col("doc_id") +: size(tokens(col("text"))).cast("long").as("n_tokens")
        +: payload.map(col): _*)
    globalRowIndex(toks, col("n_tokens").desc, col("doc_id"))
      .withColumn("shard",
        when(expr(s"((i-1) div $ShardCount) % 2 = 0"), expr(s"(i-1) % $ShardCount"))
          .otherwise(expr(s"${ShardCount - 1} - ((i-1) % $ShardCount)")))
      .drop("i")
  }

  /** Execute the q196 shard write into `st`: one partitioned table,
    * one writer task per shard (the repartition ON the shard id is the
    * 100 TB story — N cluster writers each stream exactly one shard, no
    * post-hoc file shuffling), full document payload in the files. */
  private[graft] def writeShards(st: graft.sources.TableStore,
      plan: org.apache.spark.sql.DataFrame): Unit =
    st.createPartitioned("shards",
      plan.select("doc_id", "source", "text", "n_tokens", "shard")
        .repartition(ShardCount.toInt, col("shard")),
      "shard")

  /** q196: shard-plan EXECUTION — q194 stops at the manifest; this writes
    * the planned shards through the store as a `shard`-partitioned table
    * (one writer per shard) and then verifies the WRITTEN layout by
    * reading it back: per-shard doc counts, token mass recomputed from
    * the stored text (not the plan's numbers — the files themselves must
    * prove it), a doc_id sum as a membership checksum, and a character
    * sum as a payload-integrity checksum. The oracle recomputes all four
    * from the source corpus, so a lost, duplicated, or corrupted row in
    * the write path breaks the hash match. ShardPlanSpec additionally
    * asserts the physical layout: ShardCount partition directories, one
    * data file each, byte-balanced.
    *
    * Scale posture: the payload moves through ONE range exchange (the
    * global order) plus ONE hash exchange onto writers — the minimum any
    * balanced shard writer pays; verification is a scan of the written
    * files with a per-shard aggregate. Nothing driver-side. */
  val q196 = QueryDef(
    "q196_shard_write",
    s"""WITH toks AS (
       |  SELECT doc_id, len(string_split(trim(text), ' ')) AS n_tokens,
       |         length(text) AS n_chars
       |  FROM documents),
       |idx AS (
       |  SELECT doc_id, n_tokens, n_chars,
       |    ROW_NUMBER() OVER (ORDER BY n_tokens DESC, doc_id) AS i
       |  FROM toks),
       |sh AS (
       |  SELECT doc_id, n_tokens, n_chars,
       |    CASE WHEN ((i-1) // $ShardCount) % 2 = 0 THEN (i-1) % $ShardCount
       |         ELSE ${ShardCount - 1} - ((i-1) % $ShardCount) END AS shard
       |  FROM idx)
       |SELECT shard, COUNT(*) AS n_docs,
       |  CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
       |  CAST(SUM(doc_id) AS BIGINT) AS sum_doc_id,
       |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars
       |FROM sh GROUP BY shard ORDER BY shard""".stripMargin) { (s, d) =>
    Resources.scratchStore(s, "graft-shard-store") { st =>
      writeShards(st, shardPlan(s, d, payload = Seq("source", "text")))
      st.table("shards")
        .select(col("shard").cast("long").as("shard"), col("doc_id"),
          col("text"))
        .groupBy("shard")
        .agg(count(lit(1)).as("n_docs"),
          sum(size(tokens(col("text"))).cast("long")).cast("long").as("sum_tokens"),
          sum(col("doc_id")).cast("long").as("sum_doc_id"),
          sum(length(col("text")).cast("long")).cast("long").as("sum_chars"))
        .orderBy("shard")
    }
  }

  /** Number of curriculum phases for q197 — fixed so the oracle SQL and
    * the Spark plan agree by construction. */
  private[graft] val CurriculumPhases = 4L

  /** q197: curriculum ordering — stage the corpus into quality phases and
    * emit the deterministic interleaved training order curricula actually
    * consume: phase 1 = highest-quality quartile, and the global position
    * round-robins across phases so every training window sees the full
    * quality mix while early positions skew high-quality. The quality
    * score is integer chars-per-token (ppk) — the Gopher/RefinedWeb
    * length-ratio heuristic — so every derived number is exact integer
    * arithmetic on both engines.
    *
    * Phase boundaries are ARITHMETIC on the global rank (phase =
    * (i-1)·K div n + 1; the in-phase rank subtracts the phase's start
    * index, also closed-form), never a second window: NTILE-style
    * bucketing via a window over phases would put n/K rows in ONE
    * partition each at 100 TB. The oracle states the identical closed
    * forms over ROW_NUMBER, so the split is bit-identical by
    * construction rather than by matching an engine's NTILE remainder
    * convention.
    *
    * Scale posture: one [[globalRowIndex]] (range exchange + bounded
    * window) plus a 1-row count broadcast; everything after is a
    * projection. */
  val q197 = QueryDef(
    "q197_curriculum_order",
    s"""WITH t AS (
       |  SELECT doc_id,
       |    (n_chars * 1000) // len(string_split(trim(text), ' ')) AS score_ppk
       |  FROM documents),
       |i AS (
       |  SELECT doc_id, score_ppk,
       |    ROW_NUMBER() OVER (ORDER BY score_ppk DESC, doc_id) AS i,
       |    COUNT(*) OVER () AS n
       |  FROM t),
       |p AS (
       |  SELECT doc_id, score_ppk, i, n,
       |    (i - 1) * $CurriculumPhases // n + 1 AS phase
       |  FROM i)
       |SELECT doc_id, score_ppk, CAST(phase AS BIGINT) AS phase,
       |  CAST(i - ((phase - 1) * n + ${CurriculumPhases - 1}) // $CurriculumPhases
       |    AS BIGINT) AS phase_rank,
       |  CAST((i - ((phase - 1) * n + ${CurriculumPhases - 1}) // $CurriculumPhases - 1)
       |    * $CurriculumPhases + phase - 1 AS BIGINT) AS position
       |FROM p ORDER BY doc_id""".stripMargin) { (s, d) =>
    val scored = Tables.documents(s, d)
      .select(col("doc_id"),
        expr("(n_chars * 1000) div size(split(trim(text), ' '))").as("score_ppk"))
    val n = scored.agg(count(lit(1)).as("n"))
    globalRowIndex(scored, col("score_ppk").desc, col("doc_id"))
      .crossJoin(broadcast(n))
      .withColumn("phase", expr(s"(i - 1) * $CurriculumPhases div n + 1"))
      .withColumn("phase_rank", expr(
        s"i - ((phase - 1) * n + ${CurriculumPhases - 1}) div $CurriculumPhases"))
      .select(col("doc_id"), col("score_ppk"),
        col("phase").cast("long").as("phase"),
        col("phase_rank").cast("long").as("phase_rank"),
        expr(s"(phase_rank - 1) * $CurriculumPhases + phase - 1")
          .cast("long").as("position"))
      .orderBy("doc_id")
  }

  /** q198: per-source dataset card — the release-notes table every corpus
    * ships with (counts, token mass, exact length quartiles, language
    * spread, chars-per-token): the first artifact a data consumer reads
    * and the regression surface a pipeline diffs between corpus versions.
    * Quartiles use exact-binary-fraction percentiles (0.25/0.5/0.75), the
    * q68/q192 cross-engine interpolation contract; chars-per-token is
    * integer ppk.
    *
    * Scale posture: ONE hash aggregate keyed by source; `percentile` is
    * Spark's exact aggregate over the per-group length multisets — at
    * corpus scale swap in percentile_approx with a documented error
    * budget, same plan shape. No windows, no joins, no driver state. */
  /** The dataset-card oracle — shared verbatim by q198 (monolithic) and
    * q214 (maintained from the cluster store's per-doc card sidecar). */
  private[operators] val datasetCardOracleSql: String =
    """WITH t AS (
      |  SELECT source, lang, n_chars,
      |    len(string_split(trim(text), ' ')) AS ntok
      |  FROM documents)
      |SELECT source, COUNT(*) AS n_docs,
      |  CAST(SUM(ntok) AS BIGINT) AS sum_tokens,
      |  CAST(MIN(ntok) AS BIGINT) AS min_tokens,
      |  CAST(quantile_cont(ntok, 0.25) AS DOUBLE) AS p25_tokens,
      |  CAST(quantile_cont(ntok, 0.5) AS DOUBLE) AS p50_tokens,
      |  CAST(quantile_cont(ntok, 0.75) AS DOUBLE) AS p75_tokens,
      |  CAST(MAX(ntok) AS BIGINT) AS max_tokens,
      |  CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
      |  CAST((SUM(n_chars) * 1000) // SUM(ntok) AS BIGINT) AS chars_per_token_ppk
      |FROM t GROUP BY source ORDER BY source""".stripMargin

  /** The card aggregation over a per-doc (source, lang, n_chars, ntok)
    * frame — shared by q198 (from the documents table) and q214 (from
    * the cluster store's card sidecar), so the two emissions can never
    * drift. ONE hash aggregate keyed by source. */
  private[graft] def datasetCard(perDoc: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    perDoc
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("ntok")).cast("long").as("sum_tokens"),
        min(col("ntok")).cast("long").as("min_tokens"),
        expr("percentile(ntok, 0.25)").cast("double").as("p25_tokens"),
        expr("percentile(ntok, 0.5)").cast("double").as("p50_tokens"),
        expr("percentile(ntok, 0.75)").cast("double").as("p75_tokens"),
        max(col("ntok")).cast("long").as("max_tokens"),
        countDistinct(col("lang")).cast("long").as("n_langs"),
        expr("(sum(n_chars) * 1000) div sum(ntok)").cast("long")
          .as("chars_per_token_ppk"))
      .orderBy("source")

  val q198 = QueryDef(
    "q198_dataset_card",
    datasetCardOracleSql) { (s, d) =>
    datasetCard(Tables.documents(s, d)
      .select(col("source"), col("lang"), col("n_chars"),
        size(tokens(col("text"))).cast("long").as("ntok")))
  }

  /** Accuracy of the at-scale card's percentile sketch: Spark's
    * `approx_percentile` (Greenwald–Khanna) guarantees rank error ≤
    * n/accuracy. 10⁴ means the reported quartile sits within 0.01% of
    * the exact rank — at 10¹⁰ docs that is ±10⁶ ranks of slack for a
    * sketch of a few hundred KB per group, vs the exact aggregate's
    * per-group value multiset. */
  val CardApproxAccuracy: Int = 10000

  /** The dataset card's AT-SCALE percentile variant with its error
    * budget VERIFIED, not assumed (VERDICT r16 next #5 — the q214 doc
    * contract as tested code): quartiles come from `approx_percentile`
    * (same single hash-aggregate plan shape as [[datasetCard]], sketch
    * state instead of value multisets), and each reported quartile is
    * then rank-checked against the raw rows — `p*_ok` asserts an
    * element with the approx value's rank lies within
    * n/[[CardApproxAccuracy]] + 1 ranks of q·n (the GK guarantee plus
    * one rank absorbing rank-convention rounding). The booleans are
    * engine-independent (any in-budget element passes), so the gate
    * hash-compares them against the oracle's literal TRUEs — an
    * out-of-budget sketch fails the gate loudly.
    *
    * Scale posture: two store-local passes — the card aggregate and a
    * broadcast-join rank tally (the CHECK's cost, not the card's; a
    * deployment ships the first aggregate alone). */
  private[operators] def datasetCardApproxChecked(
      perDoc: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val acc = CardApproxAccuracy
    val qs = Seq(0.25, 0.5, 0.75)
    val card = perDoc.groupBy("source").agg(
      count(lit(1)).as("n_docs"),
      sum(col("ntok")).cast("long").as("sum_tokens"),
      expr(s"approx_percentile(ntok, array(${qs.mkString("D, ")}D), $acc)").as("ap"))
    val tallies = qs.indices.flatMap { i =>
      Seq(sum(when(col("ntok") < col("ap")(i), 1L).otherwise(0L)).as(s"lt_$i"),
        sum(when(col("ntok") <= col("ap")(i), 1L).otherwise(0L)).as(s"le_$i"))
    }
    val ranks = perDoc
      .join(broadcast(card.select("source", "ap")), Seq("source"))
      .groupBy("source").agg(tallies.head, tallies.tail: _*)
    val slack = lit(1.0) + col("n_docs").cast("double") / acc
    def okCol(i: Int, q: Double) = {
      val target = col("n_docs").cast("double") * q
      // the approx value occupies ranks (lt+1 .. le); in budget ⟺ that
      // interval intersects [q·n − slack, q·n + slack]
      ((col(s"lt_$i") + 1).cast("double") <= target + slack) &&
        (col(s"le_$i").cast("double") >= target - slack)
    }
    card.join(ranks, Seq("source"))
      .select(col("source"), col("n_docs"), col("sum_tokens"),
        okCol(0, 0.25).as("p25_ok"), okCol(1, 0.5).as("p50_ok"),
        okCol(2, 0.75).as("p75_ok"))
      .orderBy("source")
  }

  /** The approx-card oracle: exact anchors (count, token mass) plus
    * literal TRUEs — the budget booleans must come back true from the
    * Spark side's own rank check. */
  private[operators] val datasetCardApproxOracleSql: String =
    """WITH t AS (
      |  SELECT source, len(string_split(trim(text), ' ')) AS ntok FROM documents)
      |SELECT source, COUNT(*) AS n_docs,
      |  CAST(SUM(ntok) AS BIGINT) AS sum_tokens,
      |  TRUE AS p25_ok, TRUE AS p50_ok, TRUE AS p75_ok
      |FROM t GROUP BY source ORDER BY source""".stripMargin

  /** q195: span-level decontamination forensics — q63/q130 flag WHICH
    * corpus docs share an 8-gram with the benchmark; an auditor removing
    * contamination needs to know WHERE. Positional shingling (posexplode /
    * zipped unnest) carries each gram's 1-based token offset through the
    * same broadcast join, reduced per doc to the first contaminated
    * offset, the gram at that offset (arg-min, unique because offsets are
    * unique within a doc), and hit-position / distinct-gram counts.
    *
    * Scale posture: identical to q63 — the benchmark gram set is tiny by
    * construction and broadcast, the corpus side is narrow per-doc
    * fan-out, and the only shuffle is the per-doc aggregate. Positions add
    * one integer column to rows that already existed. */
  val q195 = QueryDef(
    "q195_contamination_spans",
    s"""WITH sh AS (
       |  SELECT doc_id,
       |    unnest(range(1, len(t) - 6)) AS pos,
       |    unnest(${graft.functions.TextFunctions.shinglesNSql("t", 8)}) AS g
       |  FROM (SELECT doc_id, string_split(trim(text), ' ') AS t FROM documents)
       |  WHERE len(t) >= 8),
       |bench AS (SELECT DISTINCT g FROM sh WHERE doc_id < 50),
       |corpus AS (SELECT doc_id, pos, g FROM sh WHERE doc_id >= 50)
       |SELECT c.doc_id,
       |  CAST(MIN(c.pos) AS BIGINT) AS first_pos,
       |  arg_min(c.g, c.pos) AS first_gram,
       |  COUNT(*) AS n_hit_positions,
       |  CAST(COUNT(DISTINCT c.g) AS BIGINT) AS n_distinct_grams
       |FROM corpus c JOIN bench b USING (g)
       |GROUP BY 1 ORDER BY doc_id""".stripMargin) { (s, d) =>
    val sh = Tables.documents(s, d)
      .withColumn("t", tokens(col("text")))
      .filter(size(col("t")) >= 8)
      .select(col("doc_id"), posexplode(shinglesN("t", 8)))
      .select(col("doc_id"), (col("pos") + 1).cast("long").as("pos"),
        col("col").as("g"))
    val bench = broadcast(sh.filter(col("doc_id") < 50).select("g").distinct())
    sh.filter(col("doc_id") >= 50)
      .join(bench, Seq("g"))
      .groupBy("doc_id")
      .agg(min(col("pos")).as("first_pos"),
        expr("min_by(g, pos)").as("first_gram"),
        count(lit(1)).as("n_hit_positions"),
        countDistinct(col("g")).cast("long").as("n_distinct_grams"))
      .orderBy("doc_id")
  }

  val all: Seq[QueryDef] = Seq(q59, q60, q61, q62, q63, q75, q79, q84, q92, q93, q111,
    q130, q151, q157, q168, q191, q192, q194, q195, q196, q197, q198, q213, q219)
}
