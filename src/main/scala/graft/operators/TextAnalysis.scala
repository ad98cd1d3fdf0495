package graft.operators

import org.apache.spark.sql.functions._
import graft.core.{QueryDef, Tables}
import graft.functions.TextFunctions._

/** Text-analysis operators for a training-data pipeline: token statistics,
  * language ID, quality scoring, document fingerprinting. All per-document
  * expression work (narrow, codegen'd, embarrassingly parallel) — zero
  * shuffles except the final presentation sort, so these scale linearly to
  * 100 TB of documents.
  */
object TextAnalysis {

  /** Token counting: whitespace tokens, distinct tokens, BPE-ish regex
    * pieces, exact mean token length (ratio of exact ints → stable double). */
  val q42 = QueryDef(
    "q42_token_stats",
    """SELECT doc_id,
      |  len(string_split(trim(text), ' ')) AS n_tokens,
      |  len(list_distinct(string_split(trim(text), ' '))) AS n_distinct_tokens,
      |  len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS n_pieces,
      |  CAST(length(replace(trim(text), ' ', '')) AS DOUBLE)
      |    / CAST(len(string_split(trim(text), ' ')) AS DOUBLE) AS mean_token_len
      |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
    Tables.documents(s, d)
      .withColumn("toks", tokens(col("text")))
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens"),
        size(array_distinct(col("toks"))).cast("long").as("n_distinct_tokens"),
        size(regexp_extract_all(col("text"), lit(PieceRegex), lit(0))).cast("long").as("n_pieces"),
        (length(regexp_replace(trim(col("text")), " ", "")).cast("double")
          / size(col("toks")).cast("double")).as("mean_token_len"))
      .orderBy("doc_id")
  }

  /** Language ID via function-word scoring (n-gram heuristic): count hits
    * against per-language stopword lists, argmax with deterministic
    * alphabetical tiebreak. On real corpora the lists are the top-k
    * function words per language; mechanism is what matters here. */
  val q43 = {
    val sqlScores = StopWords.map { case (lang, words) =>
      s"  ${stopHitsSql("t", words)} AS score_$lang"
    }.mkString(",\n")
    val caseChain = StopWords.map { case (lang, _) =>
      s"WHEN score_$lang = best THEN '$lang'"
    }.mkString(" ")
    QueryDef(
      "q43_lang_id",
      s"""WITH toks AS (SELECT doc_id, lang, string_split(trim(text), ' ') AS t FROM documents),
         |scored AS (SELECT doc_id, lang,
         |$sqlScores
         |FROM toks),
         |best AS (SELECT *, greatest(score_de, score_en, score_es, score_fr, score_zh) AS best FROM scored)
         |SELECT doc_id, lang, score_de, score_en, score_es, score_fr, score_zh,
         |  CASE $caseChain END AS predicted
         |FROM best ORDER BY doc_id""".stripMargin) { (s, d) =>
      var df = Tables.documents(s, d).withColumn("t", tokens(col("text")))
      for ((lang, words) <- StopWords)
        df = df.withColumn(s"score_$lang", stopHits("t", words).cast("long"))
      df = df.withColumn("best",
        greatest(StopWords.map { case (l, _) => col(s"score_$l") }: _*))
      val predicted = StopWords.foldRight(lit(null).cast("string")) {
        case ((lang, _), elseCol) =>
          when(col(s"score_$lang") === col("best"), lang).otherwise(elseCol)
      }
      // foldRight builds ...when(zh)...otherwise(null) with de outermost —
      // first-match-wins order identical to the SQL CASE chain.
      df.select(col("doc_id"), col("lang"),
          col("score_de"), col("score_en"), col("score_es"), col("score_fr"), col("score_zh"),
          predicted.as("predicted"))
        .orderBy("doc_id")
    }
  }

  /** Quality scoring: length / punctuation / stopword-ratio gates (the
    * C4/Gopher-style filters) + an exact ratio column. Score = number of
    * gates passed (0-3). */
  val q44 = QueryDef(
    "q44_quality_score",
    """WITH feat AS (
      |  SELECT doc_id,
      |    length(text) AS n_chars_measured,
      |    len(string_split(trim(text), ' ')) AS n_tokens,
      |    len(regexp_extract_all(text, '[^a-z0-9 ]')) AS n_punct,
      |    len(list_filter(string_split(trim(text), ' '),
      |        x -> x IN ('the','a','of','and','to','in'))) AS n_stop
      |  FROM documents)
      |SELECT doc_id, n_chars_measured, n_tokens, n_punct, n_stop,
      |  CAST(n_stop * 100 AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS stop_pct,
      |  (CASE WHEN n_chars_measured BETWEEN 100 AND 500 THEN 1 ELSE 0 END
      |   + CASE WHEN n_tokens >= 15 THEN 1 ELSE 0 END
      |   + CASE WHEN n_punct * 10 <= n_tokens THEN 1 ELSE 0 END) AS quality_score
      |FROM feat ORDER BY doc_id""".stripMargin) { (s, d) =>
    Tables.documents(s, d)
      .withColumn("t", tokens(col("text")))
      .select(col("doc_id"),
        length(col("text")).cast("long").as("n_chars_measured"),
        size(col("t")).cast("long").as("n_tokens"),
        punctCount(col("text")).cast("long").as("n_punct"),
        stopHits("t", Seq("the", "a", "of", "and", "to", "in")).cast("long").as("n_stop"))
      .select(col("doc_id"), col("n_chars_measured"), col("n_tokens"), col("n_punct"), col("n_stop"),
        ((col("n_stop") * 100).cast("double") / col("n_tokens").cast("double")).as("stop_pct"),
        (when(col("n_chars_measured").between(100, 500), 1).otherwise(0)
          + when(col("n_tokens") >= 15, 1).otherwise(0)
          + when(col("n_punct") * 10 <= col("n_tokens"), 1).otherwise(0)).as("quality_score"))
      .orderBy("doc_id")
  }

  /** Document fingerprinting (winnowing-style): md5 each 3-gram shingle,
    * keep the 4 lexicographically smallest hashes, fingerprint = md5 of
    * their concatenation. Near-duplicate docs collide on the fingerprint
    * (min-hash stability), enabling O(n) grouping instead of O(n²). */
  val q45 = QueryDef(
    "q45_fingerprint",
    """WITH sh AS (
      |  SELECT doc_id,
      |    list_transform(range(1, len(t)-1), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]) AS s
      |  FROM (SELECT doc_id, string_split(trim(text), ' ') AS t FROM documents)),
      |fp AS (
      |  SELECT doc_id,
      |    md5(array_to_string(list_sort(list_distinct(list_transform(s, x -> md5(x))))[1:4], '')) AS fingerprint
      |  FROM sh)
      |SELECT f.doc_id, f.fingerprint, c.n_same FROM fp f
      |JOIN (SELECT fingerprint, COUNT(*) AS n_same FROM fp GROUP BY 1) c USING (fingerprint)
      |ORDER BY doc_id""".stripMargin) { (s, d) =>
    val fp = Tables.documents(s, d)
      .withColumn("t", tokens(col("text")))
      .withColumn("s", graft.functions.TextFunctions.shingles3("t"))
      .select(col("doc_id"),
        md5(concat_ws("", slice(array_sort(array_distinct(transform(col("s"), x => md5(x)))), 1, 4))).as("fingerprint"))
    fp.join(fp.groupBy("fingerprint").agg(count(lit(1)).as("n_same")), Seq("fingerprint"))
      .select("doc_id", "fingerprint", "n_same")
      .orderBy("doc_id")
  }

  /** Vocabulary extraction: global top-k tokens by document frequency —
    * explode → two-level aggregate (distinct doc-token pairs, then token
    * counts) → `TakeOrderedAndProject` top-k with a deterministic token
    * tiebreak. The token-count frame is the only shuffle; top-k never
    * globally sorts it. */
  val q80 = QueryDef(
    "q80_top_tokens",
    """WITH tok AS (
      |  SELECT DISTINCT doc_id, unnest(string_split(trim(text), ' ')) AS w
      |  FROM documents),
      |freq AS (SELECT w, COUNT(*) AS doc_freq FROM tok GROUP BY 1)
      |SELECT w, doc_freq FROM freq
      |ORDER BY doc_freq DESC, w LIMIT 20""".stripMargin) { (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"), explode(tokens(col("text"))).as("w"))
      .distinct()
      .groupBy("w").agg(count(lit(1)).as("doc_freq"))
      .orderBy(col("doc_freq").desc, col("w"))
      .limit(20)
  }

  /** Vocabulary coverage / OOV rate (q94): per-document fraction of token
    * OCCURRENCES outside the corpus's top-100 document-frequency
    * vocabulary (the q80 ranking, deterministic (df DESC, w) tiebreak) —
    * the tokenizer-coverage diagnostic run before committing a vocab.
    * Scale: the vocab is a top-k (TakeOrderedAndProject) broadcast to a
    * left join against the exploded tokens; everything else is linear
    * expression work. */
  val q94 = QueryDef(
    "q94_oov_rate",
    """WITH tok AS (
      |  SELECT doc_id, unnest(string_split(trim(text), ' ')) AS w
      |  FROM documents),
      |freq AS (SELECT w, COUNT(DISTINCT doc_id) AS doc_freq FROM tok GROUP BY 1),
      |vocab AS (SELECT w FROM freq ORDER BY doc_freq DESC, w LIMIT 100),
      |per AS (
      |  SELECT t.doc_id, COUNT(*) AS n_tokens,
      |    SUM(CASE WHEN v.w IS NULL THEN 1 ELSE 0 END) AS n_oov
      |  FROM tok t LEFT JOIN vocab v ON v.w = t.w
      |  GROUP BY 1)
      |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
      |  CAST(n_oov AS BIGINT) AS n_oov,
      |  CAST(n_oov AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS oov_rate
      |FROM per ORDER BY doc_id""".stripMargin) { (s, d) =>
    val tok = Tables.documents(s, d)
      .select(col("doc_id"), explode(tokens(col("text"))).as("w"))
    val vocab = tok
      .groupBy("w").agg(countDistinct(col("doc_id")).as("doc_freq"))
      .orderBy(col("doc_freq").desc, col("w"))
      .limit(100)
      .select(col("w"), lit(true).as("__in_vocab"))
    tok.join(broadcast(vocab), Seq("w"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("__in_vocab").isNull, 1).otherwise(0)).as("n_oov"))
      .select(col("doc_id"), col("n_tokens"), col("n_oov"),
        (col("n_oov").cast("double") / col("n_tokens").cast("double")).as("oov_rate"))
      .orderBy("doc_id")
  }

  /** q103: winsorized (percentile-clipped) doc-length — the outlier-
    * clipping step of a quality pipeline: per-language p05/p95 of token
    * count, each doc's length clamped into its language's band. Emits the
    * PER-DOC clipped value rather than a re-aggregated mean: percentile
    * interpolation is deterministic on both engines (proven by q68) and
    * the clamp is a pure comparison, while averaging the clipped doubles
    * would reintroduce order-dependent fp summation the hash gate can't
    * tolerate.
    *
    * Scale posture: one partial+final aggregate for the per-lang band
    * (exact percentile's sort is per-group; at 100 TB swap in
    * approx_percentile, same plan shape), then a broadcast join of the
    * ~|langs|-row band table back onto the corpus — narrow per-doc work,
    * no second shuffle. */
  val q103 = QueryDef(
    "q103_winsorize_length",
    """WITH dl AS (
      |  SELECT doc_id, lang,
      |    CAST(len(string_split(trim(text), ' ')) AS DOUBLE) AS dl
      |  FROM documents),
      |band AS (
      |  SELECT lang, quantile_cont(dl, 0.05) AS lo, quantile_cont(dl, 0.95) AS hi
      |  FROM dl GROUP BY 1)
      |SELECT d.doc_id, d.lang, CAST(d.dl AS BIGINT) AS n_tokens,
      |  CASE WHEN d.dl < b.lo THEN b.lo
      |       WHEN d.dl > b.hi THEN b.hi ELSE d.dl END AS clipped
      |FROM dl d JOIN band b ON b.lang = d.lang
      |ORDER BY d.doc_id""".stripMargin) { (s, d) =>
    val dl = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"),
        size(tokens(col("text"))).cast("double").as("dl"))
    val band = dl.groupBy("lang").agg(
      expr("percentile(dl, 0.05)").as("lo"),
      expr("percentile(dl, 0.95)").as("hi"))
    dl.join(broadcast(band), "lang")
      .select(col("doc_id"), col("lang"), col("dl").cast("long").as("n_tokens"),
        when(col("dl") < col("lo"), col("lo"))
          .when(col("dl") > col("hi"), col("hi"))
          .otherwise(col("dl")).as("clipped"))
      .orderBy("doc_id")
  }

  private val CmsDepth = 4
  private val CmsWidth = 256

  /** Count-min-sketch heavy hitters (Cormode & Muthukrishnan 2005),
    * gated against exact counts: a D×W = 4×256 counter sketch of token
    * OCCURRENCES (hashes derived from md5 so both engines build the
    * identical sketch), then the exact top-20 tokens are estimated back
    * out of the sketch. The CMS one-sided guarantee — estimate ≥ truth,
    * overshoot ≤ collisions' mass — is emitted as gated columns, not
    * assumed.
    *
    * Scale posture: the sketch build aggregates the ALREADY-AGGREGATED
    * token counts (one groupBy("tok") with map-side combine — the same
    * shuffle any token count pays), then folds them into at most D·W =
    * 1,024 counter rows: the second shuffle's key space is the sketch
    * size, not the vocabulary. The estimate side touches only the 20
    * ranked tokens × D rows. This is the mergeable-summary shape: at
    * 100 TB the 1,024-cell sketch is the only thing crossing executors
    * after per-partition pre-aggregation. */
  val q118 = QueryDef(
    "q118_countmin_topk",
    s"""WITH toks AS (
       |  SELECT unnest(string_split(trim(text), ' ')) AS tok FROM documents),
       |tc AS (SELECT tok, COUNT(*) AS n FROM toks GROUP BY 1),
       |cells AS (
       |  SELECT j,
       |    ('0x' || substr(md5(CAST(j AS VARCHAR) || ':' || tok), 1, 15))::BIGINT % $CmsWidth AS b,
       |    CAST(SUM(n) AS BIGINT) AS cnt
       |  FROM tc, range($CmsDepth) r(j) GROUP BY 1, 2),
       |top AS (SELECT tok, n FROM tc ORDER BY n DESC, tok LIMIT 20),
       |est AS (
       |  SELECT t.tok, t.n, MIN(c.cnt) AS est
       |  FROM top t
       |  JOIN (SELECT t2.tok, j,
       |          ('0x' || substr(md5(CAST(j AS VARCHAR) || ':' || t2.tok), 1, 15))::BIGINT % $CmsWidth AS b
       |        FROM top t2, range($CmsDepth) r(j)) h ON h.tok = t.tok
       |  JOIN cells c ON c.j = h.j AND c.b = h.b
       |  GROUP BY 1, 2)
       |SELECT tok, CAST(n AS BIGINT) AS n, est,
       |       (est >= n) AS never_under
       |FROM est ORDER BY n DESC, tok""".stripMargin) { (s, d) =>
    val tc = Tables.documents(s, d)
      .select(explode(tokens(col("text"))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("n"))
    def bucket(tokC: org.apache.spark.sql.Column, jC: org.apache.spark.sql.Column) =
      graft.functions.TextFunctions.hash60(concat(jC.cast("string"), lit(":"), tokC)) % CmsWidth
    val cells = tc
      .select(col("tok"), col("n"), explode(sequence(lit(0L), lit(CmsDepth - 1L))).as("j"))
      .groupBy(col("j"), bucket(col("tok"), col("j")).as("b"))
      .agg(sum(col("n")).cast("long").as("cnt"))
    val top = tc.orderBy(col("n").desc, col("tok")).limit(20)
    top
      .select(col("tok"), col("n"), explode(sequence(lit(0L), lit(CmsDepth - 1L))).as("j"))
      .withColumn("b", bucket(col("tok"), col("j")))
      .join(cells, Seq("j", "b"))
      .groupBy("tok", "n").agg(min(col("cnt")).as("est"))
      .select(col("tok"), col("n").cast("long").as("n"), col("est"),
        (col("est") >= col("n")).as("never_under"))
      .orderBy(col("n").desc, col("tok"))
  }

  private val BpeMerges = 3

  /** BPE tokenizer TRAINING (Sennrich et al. 2016), three merge rounds:
    * words become spaced character-symbol strings, each round counts
    * adjacent symbol pairs weighted by word frequency, adopts the most
    * frequent pair (ties broken lexicographically) as a new symbol, and
    * rewrites the corpus via single-pass leftmost `replace` (disjoint
    * occurrences — the fast-BPE application form; both engines' replace
    * scans left-to-right and continues after each replacement, so the
    * rewrite is identical). Emits one row per learned merge with its
    * weighted frequency and the corpus symbol count after adoption —
    * the monotone shrinking that makes BPE training observable.
    *
    * Scale posture: each round is one explode-and-aggregate over
    * (distinct-word, position) — map-side combine on the (l, r) pair key
    * — plus a 1-row broadcast of the winning pair into a codegen'd
    * string rewrite. Work is per DISTINCT word (weighted by counts),
    * not per token occurrence; rounds are a fixed small constant, the
    * same iterative-fixpoint shape as q76's Lloyd rounds. */
  val q126 = {
    def pairsSql(s: String) =
      s"""select l, r, sum(cnt) freq from (
         |    select cnt, arr[i] l, arr[i+1] r from (
         |      select cnt, unnest(range(1, len(arr))) i, arr from (
         |        select cnt, string_split(trim(s),' ') arr from $s)))
         |  group by 1,2""".stripMargin
    val iters = (1 to BpeMerges).map { k =>
      s"""p$k as (${pairsSql(s"s${k - 1}")}),
         |t$k as (select l, r, freq from p$k order by freq desc, l, r limit 1),
         |s$k as (select w, cnt, replace(s, ' '||t.l||' '||t.r||' ', ' '||t.l||t.r||' ') s
         |        from s${k - 1} cross join t$k t)""".stripMargin
    }.mkString(",\n")
    val outRows = (1 to BpeMerges).map { k =>
      s"""select $k step, t.l lsym, t.r rsym, cast(t.freq as bigint) freq,
         |  (select cast(sum(cnt*len(string_split(trim(s),' '))) as bigint) from s$k) symbols_after
         |from t$k t""".stripMargin
    }.mkString("\nunion all\n")
    QueryDef(
      "q126_bpe_train",
      s"""with toks as (select unnest(string_split(trim(text),' ')) w from documents),
         |words as (select w, count(*) cnt from toks group by 1),
         |s0 as (select w, cnt,
         |         ' ' || array_to_string(string_split_regex(w, ''), ' ') || ' ' s
         |       from words),
         |$iters
         |select cast(step as int) step, lsym, rsym, freq, symbols_after
         |from ($outRows) order by step""".stripMargin) { (s, d) =>
      var cur = Tables.documents(s, d)
        .select(explode(tokens(col("text"))).as("w"))
        .groupBy("w").agg(count(lit(1)).as("cnt"))
        .select(col("w"), col("cnt"),
          concat(lit(" "),
            array_join(expr("filter(split(w, ''), x -> x <> '')"), " "),
            lit(" ")).as("s"))
      val steps = (1 to BpeMerges).map { k =>
        val pairs = cur
          .select(col("cnt"), split(trim(col("s")), " ").as("arr"))
          // sequence(1, 0) DESCENDS in Spark (it is not empty): guard the
          // single-symbol words that have no adjacent pair
          .select(col("cnt"), col("arr"),
            explode(expr(
              "if(size(arr) >= 2, sequence(1, size(arr) - 1), cast(array() as array<int>))")).as("i"))
          .select(col("cnt"), expr("element_at(arr, i)").as("l"),
            expr("element_at(arr, i + 1)").as("r"))
          .groupBy("l", "r").agg(sum(col("cnt")).as("freq"))
        val top1 = pairs.orderBy(col("freq").desc, col("l"), col("r")).limit(1)
        cur = cur.crossJoin(broadcast(top1))
          .select(col("w"), col("cnt"),
            expr("replace(s, concat(' ', l, ' ', r, ' '), concat(' ', l, r, ' '))").as("s"))
        val symbolsAfter = cur
          .agg(sum(col("cnt") * size(split(trim(col("s")), " "))).as("symbols_after"))
        top1.crossJoin(broadcast(symbolsAfter))
          .select(lit(k).cast("int").as("step"), col("l").as("lsym"),
            col("r").as("rsym"), col("freq"), col("symbols_after"))
      }
      steps.reduce(_ unionByName _).orderBy("step")
    }
  }

  /** Median-absolute-deviation robust length stats per language — the
    * robust sibling of q129's IQR fences (MAD tolerates up to 50%
    * contamination where quartiles break at 25%): median token count,
    * median of |x − median|, and the count outside the 3·MAD band. Two
    * exact interpolated percentile passes (q68's proven cross-engine
    * convention) with a broadcast band join between them. */
  val q137 = QueryDef(
    "q137_mad_outliers",
    """WITH t AS (
      |  SELECT lang, len(string_split(trim(text), ' ')) AS ntok FROM documents),
      |med AS (SELECT lang, quantile_cont(ntok, 0.5) AS med FROM t GROUP BY 1),
      |dev AS (SELECT t.lang, t.ntok, ABS(t.ntok - m.med) AS dev
      |        FROM t JOIN med m ON m.lang = t.lang),
      |mad AS (SELECT lang, quantile_cont(dev, 0.5) AS mad FROM dev GROUP BY 1)
      |SELECT d.lang, m2.med, m3.mad,
      |  CAST(SUM(CASE WHEN d.dev > 3 * m3.mad THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
      |  COUNT(*) AS n
      |FROM dev d JOIN med m2 ON m2.lang = d.lang JOIN mad m3 ON m3.lang = d.lang
      |GROUP BY 1, 2, 3 ORDER BY 1""".stripMargin) { (s, d) =>
    val t = Tables.documents(s, d)
      .select(col("lang"), size(tokens(col("text"))).as("ntok"))
    val med = t.groupBy("lang").agg(expr("percentile(ntok, 0.5)").as("med"))
    val dev = t.join(broadcast(med), Seq("lang"))
      .select(col("lang"), col("ntok"), abs(col("ntok") - col("med")).as("dev"))
    val mad = dev.groupBy("lang").agg(expr("percentile(dev, 0.5)").as("mad"))
    dev.join(broadcast(med), Seq("lang")).join(broadcast(mad), Seq("lang"))
      .groupBy("lang", "med", "mad")
      .agg(sum(when(col("dev") > lit(3) * col("mad"), 1L).otherwise(0L)).as("n_outliers"),
        count(lit(1)).as("n"))
      .orderBy("lang")
  }

  /** q158: bigram next-token model — for every token, its most frequent
    * successor across the corpus with support counts and an exact ppm
    * share (the argmax table IS a trained order-1 LM; q142 does the same
    * for event streams, this is the text version). Ties break to the
    * lexicographically smallest successor via min(struct(-count, token)) —
    * pure integer/string ordering, engine-identical.
    *
    * Scale posture: bigram extraction is per-doc fan-out (no join); the
    * count table is ONE (prev, next) hash aggregate with map-side combine
    * absorbing hot pairs; argmax-per-prev is a second min(struct)
    * aggregate on the smaller pair table. Nothing is broadcast; windows
    * never touch the corpus. */
  val q158 = QueryDef(
    "q158_bigram_next_token",
    s"""WITH bg AS (
       |  SELECT unnest(${shinglesNSql("t", 2)}) AS b
       |  FROM (SELECT string_split(trim(text), ' ') AS t FROM documents)),
       |c AS (SELECT split_part(b, ' ', 1) AS prev, split_part(b, ' ', 2) AS nxt,
       |        COUNT(*) AS n FROM bg GROUP BY 1, 2),
       |tot AS (SELECT prev, CAST(SUM(n) AS BIGINT) AS total FROM c GROUP BY 1),
       |best AS (SELECT prev, min(struct_pack(nn := -n, t := nxt)) AS b
       |         FROM c GROUP BY prev)
       |SELECT t.prev, t.total, (b.b).t AS top_next,
       |  -(b.b).nn AS top_count,
       |  CAST((-(b.b).nn * 1000000) // t.total AS BIGINT) AS top_share_ppm
       |FROM tot t JOIN best b USING (prev)
       |ORDER BY prev""".stripMargin) { (s, d) =>
    val bg = Tables.documents(s, d)
      .select(tokens(col("text")).as("t"))
      .select(explode(shinglesN("t", 2)).as("b"))
      .select(split_part(col("b"), lit(" "), lit(1)).as("prev"),
        split_part(col("b"), lit(" "), lit(2)).as("nxt"))
    val c = bg.groupBy("prev", "nxt").agg(count(lit(1)).as("n"))
    val tot = c.groupBy("prev").agg(sum(col("n")).as("total"))
    val best = c.groupBy("prev")
      .agg(min(struct((-col("n")).as("nn"), col("nxt").as("t"))).as("b"))
      .select(col("prev"), col("b.t").as("top_next"), (-col("b.nn")).as("top_count"))
    tot.join(best, Seq("prev"))
      .select(col("prev"), col("total"), col("top_next"), col("top_count"),
        expr("(top_count * 1000000) div total").as("top_share_ppm"))
      .orderBy("prev")
  }

  /** q169: BPE ENCODE — apply q126's trained merges to the corpus and
    * score the result per document (piece count, char count, pieces-per-
    * char compression in exact ppm). Training without application is half
    * a tokenizer; this is the other half, and the compression ratio is
    * the metric a tokenizer change is actually judged by.
    *
    * The merge table is re-derived with the exact training recipe (the
    * oracle replays the same CTEs), so both engines encode with
    * bit-identical segmentations — q126's gate already proves the two
    * trainings agree.
    *
    * Scale posture: segmentation lives on the DISTINCT-word table (q126's
    * key property — work per distinct word, not per occurrence); encoding
    * is ONE shuffle equi-join of exploded doc words against that table on
    * the word key, then a per-doc sum. The 3 winning merge pairs ride a
    * 1-row broadcast each round. */
  val q169 = {
    def pairsSql(s: String) =
      s"""select l, r, sum(cnt) freq from (
         |    select cnt, arr[i] l, arr[i+1] r from (
         |      select cnt, unnest(range(1, len(arr))) i, arr from (
         |        select cnt, string_split(trim(s),' ') arr from $s)))
         |  group by 1,2""".stripMargin
    val iters = (1 to BpeMerges).map { k =>
      s"""p$k as (${pairsSql(s"s${k - 1}")}),
         |t$k as (select l, r, freq from p$k order by freq desc, l, r limit 1),
         |s$k as (select w, cnt, replace(s, ' '||t.l||' '||t.r||' ', ' '||t.l||t.r||' ') s
         |        from s${k - 1} cross join t$k t)""".stripMargin
    }.mkString(",\n")
    QueryDef(
      "q169_bpe_encode",
      s"""with toks as (select unnest(string_split(trim(text),' ')) w from documents),
         |words as (select w, count(*) cnt from toks group by 1),
         |s0 as (select w, cnt,
         |         ' ' || array_to_string(string_split_regex(w, ''), ' ') || ' ' s
         |       from words),
         |$iters,
         |enc as (select w, len(string_split(trim(s), ' ')) np, len(w) nc
         |        from s$BpeMerges),
         |dw as (select doc_id, unnest(string_split(trim(text),' ')) w
         |       from documents)
         |select dw.doc_id,
         |  cast(count(*) as bigint) n_words,
         |  cast(sum(enc.np) as bigint) n_pieces,
         |  cast(sum(enc.nc) as bigint) n_chars,
         |  cast((sum(enc.np) * 1000000) // greatest(sum(enc.nc), 1) as bigint)
         |    as pieces_per_char_ppm
         |from dw join enc on enc.w = dw.w
         |group by 1 order by 1""".stripMargin) { (s, d) =>
      // the training loop mirrors q126 verbatim (same rounds, same
      // tiebreaks) — the gate proves the replica agrees with DuckDB's
      var cur = Tables.documents(s, d)
        .select(explode(tokens(col("text"))).as("w"))
        .groupBy("w").agg(count(lit(1)).as("cnt"))
        .select(col("w"), col("cnt"),
          concat(lit(" "),
            array_join(expr("filter(split(w, ''), x -> x <> '')"), " "),
            lit(" ")).as("s"))
      (1 to BpeMerges).foreach { _ =>
        val pairs = cur
          .select(col("cnt"), split(trim(col("s")), " ").as("arr"))
          .select(col("cnt"), col("arr"),
            explode(expr(
              "if(size(arr) >= 2, sequence(1, size(arr) - 1), cast(array() as array<int>))")).as("i"))
          .select(col("cnt"), expr("element_at(arr, i)").as("l"),
            expr("element_at(arr, i + 1)").as("r"))
          .groupBy("l", "r").agg(sum(col("cnt")).as("freq"))
        val top1 = pairs.orderBy(col("freq").desc, col("l"), col("r")).limit(1)
        cur = cur.crossJoin(broadcast(top1))
          .select(col("w"), col("cnt"),
            expr("replace(s, concat(' ', l, ' ', r, ' '), concat(' ', l, r, ' '))").as("s"))
      }
      val enc = cur.select(col("w"),
        size(split(trim(col("s")), " ")).cast("long").as("np"),
        length(col("w")).cast("long").as("nc"))
      Tables.documents(s, d)
        .select(col("doc_id"), explode(tokens(col("text"))).as("w"))
        .join(enc, Seq("w"))
        .groupBy("doc_id").agg(
          count(lit(1)).as("n_words"),
          sum(col("np")).as("n_pieces"),
          sum(col("nc")).as("n_chars"))
        .select(col("doc_id"), col("n_words"), col("n_pieces"), col("n_chars"),
          expr("(n_pieces * 1000000) div greatest(n_chars, 1)")
            .as("pieces_per_char_ppm"))
        .orderBy("doc_id")
    }
  }

  /** q170: language-ID EVALUATION — q43's function-word classifier scored
    * against the labeled `lang` column: per class, support, prediction
    * count, correct count, and precision/recall/F1 in exact integer ppm
    * (F1 = 2PR div (P+R) on the ppm values — no floats). Shipping a
    * classifier without its confusion metrics is how silently-broken
    * language filters eat a corpus; this is the eval the curation
    * pipeline gates on.
    *
    * Scale posture: the predictor is per-doc expression work (q43's
    * codegen'd scoring); the confusion matrix is one |langs|² hash
    * aggregate; everything after runs on ≤ |langs| rows. */
  val q170 = {
    val sqlScores = StopWords.map { case (lang, words) =>
      s"  ${stopHitsSql("t", words)} AS score_$lang"
    }.mkString(",\n")
    val caseChain = StopWords.map { case (lang, _) =>
      s"WHEN score_$lang = best THEN '$lang'"
    }.mkString(" ")
    QueryDef(
      "q170_langid_eval",
      s"""WITH toks AS (SELECT lang, string_split(trim(text), ' ') AS t FROM documents),
         |scored AS (SELECT lang,
         |$sqlScores
         |FROM toks),
         |best AS (SELECT *, greatest(score_de, score_en, score_es, score_fr, score_zh) AS best FROM scored),
         |pred AS (SELECT lang, CASE $caseChain END AS predicted FROM best),
         |cm AS (SELECT lang, predicted, COUNT(*) AS n FROM pred GROUP BY 1, 2),
         |row_t AS (SELECT lang, CAST(SUM(n) AS BIGINT) AS n_true FROM cm GROUP BY 1),
         |col_t AS (SELECT predicted, CAST(SUM(n) AS BIGINT) AS n_pred FROM cm GROUP BY 1),
         |diag AS (SELECT lang, CAST(n AS BIGINT) AS n_correct FROM cm WHERE lang = predicted)
         |SELECT r.lang, r.n_true,
         |  COALESCE(c.n_pred, 0) AS n_pred,
         |  COALESCE(g.n_correct, 0) AS n_correct,
         |  (COALESCE(g.n_correct, 0) * 1000000) // greatest(COALESCE(c.n_pred, 0), 1)
         |    AS precision_ppm,
         |  (COALESCE(g.n_correct, 0) * 1000000) // greatest(r.n_true, 1) AS recall_ppm,
         |  (2 * ((COALESCE(g.n_correct, 0) * 1000000) // greatest(COALESCE(c.n_pred, 0), 1))
         |     * ((COALESCE(g.n_correct, 0) * 1000000) // greatest(r.n_true, 1)))
         |    // greatest(((COALESCE(g.n_correct, 0) * 1000000) // greatest(COALESCE(c.n_pred, 0), 1))
         |       + ((COALESCE(g.n_correct, 0) * 1000000) // greatest(r.n_true, 1)), 1) AS f1_ppm
         |FROM row_t r
         |LEFT JOIN col_t c ON c.predicted = r.lang
         |LEFT JOIN diag g ON g.lang = r.lang
         |ORDER BY 1""".stripMargin) { (s, d) =>
      var df = Tables.documents(s, d).withColumn("t", tokens(col("text")))
      for ((lang, words) <- StopWords)
        df = df.withColumn(s"score_$lang", stopHits("t", words).cast("long"))
      df = df.withColumn("best",
        greatest(StopWords.map { case (l, _) => col(s"score_$l") }: _*))
      val predicted = StopWords.foldRight(lit(null).cast("string")) {
        case ((lang, _), elseCol) =>
          when(col(s"score_$lang") === col("best"), lang).otherwise(elseCol)
      }
      val cm = df.select(col("lang"), predicted.as("predicted"))
        .groupBy("lang", "predicted").agg(count(lit(1)).as("n"))
      val rowT = cm.groupBy("lang").agg(sum(col("n")).as("n_true"))
      val colT = cm.groupBy("predicted").agg(sum(col("n")).as("n_pred"))
      val diag = cm.filter(col("lang") === col("predicted"))
        .select(col("lang"), col("n").as("n_correct"))
      rowT
        .join(colT.withColumnRenamed("predicted", "lang"), Seq("lang"), "left")
        .join(diag, Seq("lang"), "left")
        .select(col("lang"), col("n_true"),
          coalesce(col("n_pred"), lit(0L)).as("n_pred"),
          coalesce(col("n_correct"), lit(0L)).as("n_correct"))
        .withColumn("precision_ppm",
          expr("(n_correct * 1000000) div greatest(n_pred, 1)"))
        .withColumn("recall_ppm",
          expr("(n_correct * 1000000) div greatest(n_true, 1)"))
        .withColumn("f1_ppm",
          expr("(2 * precision_ppm * recall_ppm) div greatest(precision_ppm + recall_ppm, 1)"))
        .orderBy("lang")
    }
  }

  /** q172: TF-IDF keyword extraction — the top-5 most characteristic
    * tokens per language: within-language term frequency × the log-free
    * idf (N − df + 0.5)/(df + 0.5) (q101's variant — no libm, one IEEE
    * multiply and divide per token, so scores are bit-identical across
    * engines). "What is slice X actually about" is the first question
    * asked of any new corpus source.
    *
    * Scale posture: df and tf are two hash aggregates over exploded
    * tokens (map-side combined); the scoring join is a vocab-key
    * equi-join (no vocab broadcast hint — AQE may choose one when it is
    * genuinely small); the rank window partitions by language over the
    * VOCAB-sized scored frame, never the corpus — the q113 window
    * contract. */
  val q172 = QueryDef(
    "q172_tfidf_keywords",
    """WITH tok AS (
      |  SELECT doc_id, lang, unnest(string_split(trim(text), ' ')) AS w
      |  FROM documents),
      |nd AS (SELECT CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS n FROM tok),
      |dfq AS (SELECT w, CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS df
      |        FROM tok GROUP BY 1),
      |tf AS (SELECT lang, w, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
      |scored AS (
      |  SELECT tf.lang, tf.w, tf.tf,
      |    CAST(tf.tf AS DOUBLE) * ((nd.n - dfq.df + 0.5) / (dfq.df + 0.5)) AS score
      |  FROM tf JOIN dfq ON dfq.w = tf.w CROSS JOIN nd),
      |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY lang
      |        ORDER BY score DESC, w) AS rk FROM scored)
      |SELECT lang, CAST(rk AS INT) AS rk, w,
      |  CAST(tf AS BIGINT) AS n_occurrences, score
      |FROM r WHERE rk <= 5 ORDER BY lang, rk""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val tok = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), explode(tokens(col("text"))).as("w"))
    val nd = tok.agg(countDistinct(col("doc_id")).cast("double").as("n"))
    val dfq = tok.groupBy("w").agg(countDistinct(col("doc_id")).cast("double").as("df"))
    val tf = tok.groupBy("lang", "w").agg(count(lit(1)).as("tf"))
    val scored = tf.join(dfq, Seq("w")).crossJoin(broadcast(nd))
      .select(col("lang"), col("w"), col("tf"),
        (col("tf").cast("double")
          * ((col("n") - col("df") + 0.5) / (col("df") + 0.5))).as("score"))
    scored
      .withColumn("rk", row_number().over(
        Window.partitionBy("lang").orderBy(col("score").desc, col("w"))).cast("int"))
      .filter(col("rk") <= 5)
      .select(col("lang"), col("rk"), col("w"),
        col("tf").cast("long").as("n_occurrences"), col("score"))
      .orderBy("lang", "rk")
  }

  val all: Seq[QueryDef] = Seq(q42, q43, q44, q45, q80, q94, q103, q118, q126, q137,
    q158, q169, q170, q172)
}
