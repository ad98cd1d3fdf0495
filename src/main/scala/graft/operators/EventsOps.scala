package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.{QueryDef, Tables}
import graft.functions.Dec._

/** Time-series operators over the `events` table: tumbling-window rollups
  * and gap-based sessionization. Batch forms are gate-checked here; the
  * same transforms run as a Structured Streaming job in
  * [[graft.streaming.EventStream]] (readStream → watermark → window →
  * writeStream), spec-tested with MemoryStream.
  *
  * Scale: tumbling windows are plain groupBy on (bucket, type) — fully
  * parallel; sessionization windows partition by user_id, so state is
  * distributed across the cluster, never global.
  */
object EventsOps {

  /** Rows per staged replay file for the batch-boundary-sensitive
    * streaming gates (q183/q187/q189) — sized so a bench-scale run stages
    * ONE file per batch (the minimal replay) while a 100×-replica run
    * parallel-writes tens. The gates take it as a defaulted parameter on
    * their `*Impl` builders (the specs pass a tiny value to force the
    * multi-file aligned-batch path at test scale) — no mutable global. */
  private[graft] val OuterStageRowsPerFile = 2000000L

  /** Target slice duration (hours) for the stream-stream join gates'
    * time-sliced large-corpus replay (q149/q187). Each micro-batch costs
    * a fixed commit/planning toll (~seconds at local[32] with 4 state
    * stores × session-width partitions), while per-user join state — and
    * the per-input PROBE over it — grows with slice duration, so this
    * knob trades batch count against state size; measured on the 100×
    * replica (SCALE.md r10: 240h ≈ 4 slices beat 2/7/13/30-slice and
    * single-batch replays with the bucketed join key). */
  private[graft] val StreamSliceHours = 240L

  /** Linear strict cuts over [lo, hi]: cut 0 = −∞, cut `slices` = +∞, so
    * the half-open ranges (cuts(k), cuts(k+1)] partition the key space
    * and every later slice's keys strictly exceed every earlier
    * slice's — the property the sliced gates' losslessness arguments
    * rest on. */
  private def strictCuts(lo: Long, hi: Long, slices: Int): Seq[Long] =
    (0 to slices).map {
      case 0 => Long.MinValue
      case k if k == slices => Long.MaxValue
      case k => lo + (hi - lo) * k / slices
    }

  /** The strict-sliced replay stages shared by the sliced gates
    * (q149/q187/q189/q191): one `(name, filtered df, modSec)` stage per
    * half-open cut range of `key`, in replay order. `prefix` keeps the
    * stage names lexicographically ordered relative to appended carrier
    * stages (q187). One shared implementation so a staging change can
    * never silently diverge the gates' replay shapes. */
  private[graft] def slicedStages(df: org.apache.spark.sql.DataFrame,
      key: org.apache.spark.sql.Column, lo: Long, hi: Long, slices: Int,
      prefix: String = ""): Seq[(String, org.apache.spark.sql.DataFrame, Int)] =
    strictCuts(lo, hi, slices).sliding(2).toSeq.zipWithIndex.map {
      case (Seq(a, b), i) =>
        (f"$prefix%sslice$i%02d", df.filter(key > a && key <= b), i * 10)
      case _ => throw new IllegalStateException("sliding(2) invariant")
    }

  /** Slice count for a replay over a corpus spanning [lo, hi] µs: ONE
    * whole-corpus batch when the corpus stages as a single file (the
    * minimal bench-scale replay), else one slice per `sliceHours`,
    * clamped to [2, 32]. */
  private[graft] def sliceCount(rows: Long, rowsPerFile: Long,
      lo: Long, hi: Long, sliceHours: Long): Int =
    if (rows / rowsPerFile < 1) 1
    else math.min(32L, math.max(2L,
      (hi - lo) / (sliceHours * 3600L * 1000000L) + 1)).toInt

  /** Estimated bytes of a frame from optimizer statistics (for parquet
    * scans: the file bytes) — metadata only, no job. A frame without
    * statistics (an RDD-backed frame, say) reports Spark's
    * `spark.sql.defaultSizeInBytes` sentinel; that is unknown volume,
    * not real volume, so it counts as 0 and a width derived from it
    * stays at the floor — not at the 2048 cap, nor negative where two
    * such estimates are added. */
  private[graft] def planBytes(df: org.apache.spark.sql.DataFrame): Long = {
    val qe = df.queryExecution
    val b = qe.optimizedPlan.stats.sizeInBytes
    if (b >= BigInt(qe.sparkSession.sessionState.conf.defaultSizeInBytes)) 0L
    else b.toLong
  }

  /** Scale-adaptive bounded-replay shuffle width (guide §2.2/§2.4,
    * VERDICT r19 #2): max(8, estBytes / 64 MiB), capped at 2048. The
    * bench-scale floor stays the q183 8-partition rule (every test
    * scale factor derives width 8, so bench plans are unchanged),
    * while 10×/100× replicas — and deployment-scale epochs — grow the
    * width with the volume instead of pinning SF-proportional epoch
    * shuffles at a constant. */
  private[graft] def replayWidth(estBytes: Long): Int =
    math.min(2048L, math.max(8L, estBytes / (64L << 20) + 1L)).toInt

  /** Width for the serve/report phase of a replay-width gate: serve legs
    * join STORE-wide frames (the whole ingested corpus), so their width
    * derives from the full input volume, not the epoch's — the
    * 8-partition epoch pin must not cap serving at scale (ADVICE r19 #2).
    * Sets the CLONE's conf; the next action plans with it. */
  private[graft] def serveWidth(c: org.apache.spark.sql.SparkSession,
      estBytes: Long): Unit = {
    c.conf.set("spark.sql.shuffle.partitions", replayWidth(estBytes).toString)
    ()
  }

  /** Run `body` under the bounded-replay shuffle width a bench-scale replay
    * stream is built at (the q183 8-partition rule, see
    * [[Epochs.replay]]): the DIRECT-ingest
    * gates (q201/q202/q228/q232/q234/q236…) drive the same
    * batch-bounded epochs without a stream, so their epoch shuffles
    * were planned at session width — 32 slices over candidate-bounded
    * frames is pure per-task overhead, measured at ~15% of q236's wall.
    * A session clone carries every current runtime conf (gate-scoped
    * policy confs like `spark.graft.state.autoCompactVersions`
    * included) and pins the width; the caller's session is untouched,
    * exactly the isolation contract the streaming clones have.
    * `estEpochBytes` (when >= 0) derives the width from the epoch's
    * estimated input volume via [[replayWidth]] instead of the bare
    * floor — callers pass their input frame's [[planBytes]] / slices. */
  private[graft] def withReplayWidth[T](s: org.apache.spark.sql.SparkSession,
      estEpochBytes: Long = -1L)(
      body: org.apache.spark.sql.SparkSession => T): T =
    withWidth(s, if (estEpochBytes < 0L) 8 else replayWidth(estEpochBytes))(body)

  /** Run `body` on a clone of `s` carrying every current runtime conf,
    * with `spark.sql.shuffle.partitions` = `width`; `s` is not written. */
  private[graft] def withWidth[T](s: org.apache.spark.sql.SparkSession, width: Int)(
      body: org.apache.spark.sql.SparkSession => T): T = {
    val c = s.newSession()
    s.conf.getAll.foreach { case (k, v) =>
      try c.conf.set(k, v) catch { case _: org.apache.spark.sql.AnalysisException => () }
    }
    c.conf.set("spark.sql.shuffle.partitions", width.toString)
    body(c)
  }

  /** Recursively delete a temp tree ([[graft.core.Resources]] removes
    * every scratch and memo root with it). */
  private[graft] def rmTree(p: java.nio.file.Path): Unit = {
    val f = p.toFile
    if (f.isDirectory) {
      // listFiles is null when the dir vanished between the isDirectory
      // check and the list (concurrent cleanup, tmp reaper) — rmTree runs
      // inside finally blocks, where an NPE would mask the real failure
      val l = f.listFiles()
      if (l != null) l.foreach(c => rmTree(c.toPath))
    }
    java.nio.file.Files.deleteIfExists(p)
    ()
  }

  /** Tumbling 1-hour rollup — Spark `window()` vs DuckDB `time_bucket`. */
  val q40 = QueryDef(
    "q40_events_hourly",
    """SELECT time_bucket(INTERVAL '1 hour', ts) AS hour_start, event_type,
      |  COUNT(*) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS value_sum
      |FROM events
      |GROUP BY 1, 2 ORDER BY hour_start, event_type""".stripMargin) { (s, d) =>
    Tables.events(s, d)
      .groupBy(window(col("ts"), "1 hour").getField("start").as("hour_start"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), out(sum(d4(col("value"))), 4).as("value_sum"))
      .orderBy("hour_start", "event_type")
  }

  /** Gap-based sessionization (30-min inactivity): lag → gap flag →
    * running sum = session id → per-user session stats. */
  val q41 = QueryDef(
    "q41_events_sessionize",
    """WITH flagged AS (
      |  SELECT user_id, ts, event_id,
      |    CASE WHEN ts - LAG(ts) OVER w > INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS new_session
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |sessions AS (
      |  SELECT user_id, SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      |  FROM flagged)
      |SELECT user_id,
      |  CAST(COUNT(DISTINCT session_id) AS BIGINT) AS n_sessions,
      |  COUNT(*) AS n_events
      |FROM sessions GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, d) =>
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val flagged = Tables.events(s, d)
      .withColumn("prev_ts", lag(col("ts"), 1).over(w))
      .withColumn("new_session",
        when(unix_micros(col("ts")) - unix_micros(col("prev_ts")) > 30L * 60 * 1000000, 1).otherwise(0))
    val sessions = flagged.withColumn("session_id",
      sum(col("new_session")).over(Window.partitionBy("user_id").orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    sessions.groupBy("user_id")
      .agg(countDistinct(col("session_id")).as("n_sessions"), count(lit(1)).as("n_events"))
      .orderBy("user_id")
  }

  /** Semi-structured columns: extract typed values from the JSON `props`
    * payload (Spark `get_json_object` ↔ DuckDB `json_extract_string`) and
    * aggregate — schema-on-read over JSON strings, the common shape for
    * event payloads at scale (extraction is per-row, codegen'd; only the
    * final rollup shuffles). */
  val q70 = QueryDef(
    "q70_json_extract",
    """SELECT event_type,
      |  COUNT(*) AS n,
      |  CAST(SUM(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT) AS k_sum,
      |  CAST(MAX(CAST(json_extract_string(props, '$.k') AS INT)) AS INT) AS k_max
      |FROM events
      |WHERE json_extract_string(props, '$.k') IS NOT NULL
      |GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, d) =>
    val k = get_json_object(col("props"), "$.k").cast("int")
    Tables.events(s, d)
      .filter(k.isNotNull)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(k).cast("bigint").as("k_sum"),
        max(k).cast("int").as("k_max"))
      .orderBy("event_type")
  }

  /** q107: time-based RANGE window frame — a trailing 1-hour sliding sum
    * per user, the frame form q66's ROWS BETWEEN cannot express (peers
    * are chosen by ORDER-BY VALUE distance, not row position, so ties in
    * the same second enter the frame together on both engines). The frame
    * orders on integer epoch SECONDS (Spark `unix_timestamp` ≡ DuckDB
    * `epoch_ns // 1e9`, both floor on positive epochs) and sums
    * decimal-exact values, so frame contents and totals are bit-identical
    * cross-engine. Partitioned by user_id: state distributes, no global
    * window. */
  val q107 = QueryDef(
    "q107_range_frame_window",
    """SELECT event_id,
      |  CAST(SUM(CAST(value AS DECIMAL(18,4))) OVER (
      |    PARTITION BY user_id
      |    ORDER BY epoch_ns(ts) // 1000000000
      |    RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW) AS DOUBLE) AS v_1h
      |FROM events ORDER BY event_id""".stripMargin) { (s, d) =>
    val w = Window.partitionBy("user_id")
      .orderBy(unix_timestamp(col("ts")))
      .rangeBetween(-3600, Window.currentRow)
    Tables.events(s, d)
      .select(col("event_id"), out(sum(d4(col("value"))).over(w), 4).as("v_1h"))
      .orderBy("event_id")
  }

  /** Ordered funnel analysis (view → click → purchase): per user, the
    * earliest 'view', the earliest 'click' strictly AFTER it, the
    * earliest 'purchase' strictly after that — the product-analytics
    * staple that is deceptively order-sensitive (a purchase before the
    * first view must NOT count). Emits per-user stage reached plus the
    * stage timestamps (as epoch micros — ns→µs truncation is identical
    * on both engines).
    *
    * Scale posture: each stage is one conditional scan aggregated
    * per-user (map-side combine) with the previous stage's tiny per-user
    * frame broadcast back — 3 linear passes, no windows over raw events,
    * no per-user sorting. A streaming sibling would fold the same logic
    * into mapGroupsWithState. */
  val q120 = QueryDef(
    "q120_funnel_stages",
    """WITH t1 AS (SELECT user_id, MIN(ts) AS t1 FROM events
      |            WHERE event_type = 'view' GROUP BY 1),
      |t2 AS (SELECT e.user_id, MIN(e.ts) AS t2 FROM events e
      |       JOIN t1 ON t1.user_id = e.user_id
      |       WHERE e.event_type = 'click' AND e.ts > t1.t1 GROUP BY 1),
      |t3 AS (SELECT e.user_id, MIN(e.ts) AS t3 FROM events e
      |       JOIN t2 ON t2.user_id = e.user_id
      |       WHERE e.event_type = 'purchase' AND e.ts > t2.t2 GROUP BY 1),
      |u AS (SELECT DISTINCT user_id FROM events)
      |SELECT u.user_id,
      |  CAST(CASE WHEN t3.t3 IS NOT NULL THEN 3 WHEN t2.t2 IS NOT NULL THEN 2
      |            WHEN t1.t1 IS NOT NULL THEN 1 ELSE 0 END AS INT) AS reached,
      |  CAST(epoch_us(t1.t1) AS BIGINT) AS view_us,
      |  CAST(epoch_us(t2.t2) AS BIGINT) AS click_us,
      |  CAST(epoch_us(t3.t3) AS BIGINT) AS purchase_us
      |FROM u LEFT JOIN t1 USING (user_id) LEFT JOIN t2 USING (user_id)
      |       LEFT JOIN t3 USING (user_id)
      |ORDER BY user_id""".stripMargin) { (s, d) =>
    val ev = Tables.events(s, d).select("user_id", "event_type", "ts")
    val t1 = ev.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min(col("ts")).as("t1"))
    val t2 = ev.filter(col("event_type") === "click")
      .join(broadcast(t1), Seq("user_id"))
      .filter(col("ts") > col("t1"))
      .groupBy("user_id").agg(min(col("ts")).as("t2"))
    val t3 = ev.filter(col("event_type") === "purchase")
      .join(broadcast(t2), Seq("user_id"))
      .filter(col("ts") > col("t2"))
      .groupBy("user_id").agg(min(col("ts")).as("t3"))
    ev.select("user_id").distinct()
      .join(broadcast(t1), Seq("user_id"), "left")
      .join(broadcast(t2), Seq("user_id"), "left")
      .join(broadcast(t3), Seq("user_id"), "left")
      .select(col("user_id"),
        when(col("t3").isNotNull, 3).when(col("t2").isNotNull, 2)
          .when(col("t1").isNotNull, 1).otherwise(0).cast("int").as("reached"),
        unix_micros(col("t1")).as("view_us"),
        unix_micros(col("t2")).as("click_us"),
        unix_micros(col("t3")).as("purchase_us"))
      .orderBy("user_id")
  }

  /** Event-transition bigrams: the top-10 (event_type → next event_type)
    * transitions across all users — path analysis / Markov-transition
    * mining in its simplest exact form. LEAD over a per-user window
    * (partitioned — scales horizontally), then a global count rollup of
    * the 25-cell transition matrix. */
  val q122 = QueryDef(
    "q122_event_bigrams",
    """WITH seq AS (
      |  SELECT event_type AS prev_type,
      |         LEAD(event_type) OVER (PARTITION BY user_id
      |                                ORDER BY ts, event_id) AS next_type
      |  FROM events),
      |cnt AS (SELECT prev_type, next_type, COUNT(*) AS n FROM seq
      |        WHERE next_type IS NOT NULL GROUP BY 1, 2)
      |SELECT prev_type, next_type, n, CAST(rk AS INT) AS rk FROM (
      |  SELECT *, ROW_NUMBER() OVER (ORDER BY n DESC, prev_type, next_type) AS rk
      |  FROM cnt) WHERE rk <= 10 ORDER BY rk""".stripMargin) { (s, d) =>
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("ts", "event_id")
    val seq0 = Tables.events(s, d)
      .select(col("event_type").as("prev_type"),
        lead(col("event_type"), 1).over(w).as("next_type"))
      .filter(col("next_type").isNotNull)
    // 25-cell rollup: global rank over a frame of at most |types|² rows,
    // ranked windowless-safe via a tiny orderBy+limit
    seq0.groupBy("prev_type", "next_type").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("prev_type"), col("next_type"))
      .limit(10)
      .withColumn("rk", org.apache.spark.sql.functions.row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("n").desc, col("prev_type"), col("next_type"))).cast("int"))
      .orderBy("rk")
  }

  /** STREAMING on the oracle gate (every other streaming capability is
    * spec-checked; this one is hash-compared to DuckDB): the incremental
    * funnel ([[graft.streaming.EventStream.funnelStream]]) runs over the
    * real events table as a bounded file-source stream (AvailableNow),
    * each micro-batch's appended stage-advance records are reduced to
    * per-user maxima on the executors, and the per-user maximum stage
    * must equal the batch SQL's funnel — the stream-equals-batch
    * contract, gated end to end.
    *
    * Determinism: one input file → one micro-batch; within it the group
    * fold sorts by (ts, event_type), which reproduces the batch MIN/
    * strictly-after semantics exactly (ties excluded by strict > on both
    * sides). Emissions are monotone, so max(reached) is the final stage. */
  val q132 = QueryDef(
    "q132_streaming_funnel_gate",
    """WITH t1 AS (SELECT user_id, MIN(ts) AS t1 FROM events
      |            WHERE event_type = 'view' GROUP BY 1),
      |t2 AS (SELECT e.user_id, MIN(e.ts) AS t2 FROM events e
      |       JOIN t1 ON t1.user_id = e.user_id
      |       WHERE e.event_type = 'click' AND e.ts > t1.t1 GROUP BY 1),
      |t3 AS (SELECT e.user_id, MIN(e.ts) AS t3 FROM events e
      |       JOIN t2 ON t2.user_id = e.user_id
      |       WHERE e.event_type = 'purchase' AND e.ts > t2.t2 GROUP BY 1)
      |SELECT t1.user_id,
      |  CAST(CASE WHEN t3.t3 IS NOT NULL THEN 3 WHEN t2.t2 IS NOT NULL THEN 2
      |            ELSE 1 END AS INT) AS reached
      |FROM t1 LEFT JOIN t2 USING (user_id) LEFT JOIN t3 USING (user_id)
      |ORDER BY user_id""".stripMargin) { (s, d) =>
    import graft.streaming.EventStream
    import s.implicits._
    val ev = Epochs.events(s, d, sessionWidthPastOneFile = true)
    val tsMicros = unix_micros(Tables.tsAsTimestamp(ev.input.schema("ts").dataType))
    Epochs.reduced(s, ev, "q132_funnel_sink") { src =>
      EventStream.funnelStream(src()
        .select(col("user_id"), tsMicros.as("ts"), col("event_type"))
        .as[EventStream.TypedEvent]).toDF()
    }(_.groupBy("user_id").agg(max(col("reached")).as("reached")).coalesce(1)) {
      _.groupBy("user_id").agg(max(col("reached")).cast("int").as("reached"))
        .orderBy("user_id")
    }
  }

  /** Weekly retention cohorts — the product-analytics matrix: users are
    * cohorted by the week of their FIRST event, and each (cohort week,
    * activity week) cell counts distinct cohort members active that week,
    * with the retention ratio against cohort size. Two aggregations
    * (first-event per user; distinct user-weeks) and a broadcast cohort
    * join — no windows over raw events. */
  val q138 = QueryDef(
    "q138_retention_cohorts",
    """WITH first_ev AS (
      |  SELECT user_id, CAST(date_trunc('week', MIN(ts)) AS DATE) AS cohort_week
      |  FROM events GROUP BY 1),
      |weekly AS (
      |  SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS week
      |  FROM events),
      |cs AS (SELECT cohort_week, COUNT(*) AS cohort_size FROM first_ev GROUP BY 1)
      |SELECT f.cohort_week, w.week,
      |       COUNT(DISTINCT w.user_id) AS n_active,
      |       CAST(COUNT(DISTINCT w.user_id) AS DOUBLE) / cs.cohort_size AS retention
      |FROM weekly w JOIN first_ev f ON f.user_id = w.user_id
      |JOIN cs ON cs.cohort_week = f.cohort_week
      |GROUP BY 1, 2, cs.cohort_size ORDER BY 1, 2""".stripMargin) { (s, d) =>
    val ev = Tables.events(s, d)
    val firstEv = ev.groupBy("user_id")
      .agg(date_trunc("week", min(col("ts"))).cast("date").as("cohort_week"))
    val weekly = ev.select(col("user_id"),
      date_trunc("week", col("ts")).cast("date").as("week")).distinct()
    val cs = firstEv.groupBy("cohort_week").agg(count(lit(1)).as("cohort_size"))
    weekly.join(broadcast(firstEv), Seq("user_id"))
      .join(broadcast(cs), Seq("cohort_week"))
      .groupBy("cohort_week", "week", "cohort_size")
      .agg(countDistinct(col("user_id")).as("n_active"))
      .select(col("cohort_week"), col("week"), col("n_active"),
        (col("n_active").cast("double") / col("cohort_size")).as("retention"))
      .orderBy("cohort_week", "week")
  }

  /** Time-decayed engagement score with a 1-day half-life — EXACTLY, with
    * no libm pow: weight 2^-age becomes the integer factor 2^(29-age)
    * (the corpus spans 30 days), contributions are exact BIGINT
    * cents×factor sums (max ≈ 5·10¹⁷, inside int64), and the single
    * double division by 2^29·100 happens once at the end. Distributed
    * summation order cannot perturb an integer sum — the same
    * fixed-point discipline as q115. */
  val q139 = QueryDef(
    "q139_decayed_engagement",
    """WITH e AS (
      |  SELECT event_type,
      |         CAST(round(value * 100) AS BIGINT) AS cents,
      |         date_diff('day', CAST(ts AS DATE), DATE '2024-01-30') AS age
      |  FROM events)
      |SELECT event_type,
      |       CAST(SUM(cents * (CAST(1 AS BIGINT) << CAST((29 - age) AS INT))) AS DOUBLE)
      |         / 53687091200.0 AS decayed_value
      |FROM e GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
    // The 2^(29-age) factor is only defined for the 30-day window ending
    // 2024-01-30. Out-of-range ages must fail LOUDLY: Spark's shiftleft
    // wraps the shift amount (& 63 — a silently wrong answer) where the
    // DuckDB oracle's << errors, so an unguarded data-contract violation
    // would surface as a cross-engine hash mismatch instead of an error.
    Tables.events(s, d)
      .select(col("event_type"),
        round(col("value") * 100).cast("long").as("cents"),
        datediff(lit("2024-01-30").cast("date"), col("ts").cast("date")).as("age"))
      .groupBy("event_type")
      .agg((sum(col("cents") * expr(
        "CASE WHEN age BETWEEN 0 AND 29 " +
          "THEN shiftleft(cast(1 as bigint), cast(29 - age as int)) " +
          "ELSE raise_error('q139: event ts outside the 30-day window ending " +
          "2024-01-30 — the 2^(29-age) decay factor is undefined') END"))
        .cast("double") / 53687091200.0).as("decayed_value"))
      .orderBy("event_type")
  }

  /** Markov argmax evaluation — the eval loop of the q122 transition
    * model run in-engine: per previous event type, predict the most
    * frequent next type (deterministic tie-break), then score the
    * prediction against every actual transition. Train and eval are the
    * same corpus by design (this gates the mechanics, not generalization
    * — a held-out variant just changes the filter). The 25-cell model is
    * a broadcast join against the transition stream. */
  val q142 = QueryDef(
    "q142_markov_eval",
    """WITH seq AS (
      |  SELECT event_type AS prev_type,
      |         LEAD(event_type) OVER (PARTITION BY user_id
      |                                ORDER BY ts, event_id) AS next_type
      |  FROM events),
      |tr AS (SELECT prev_type, next_type FROM seq WHERE next_type IS NOT NULL),
      |cnt AS (SELECT prev_type, next_type, COUNT(*) AS n FROM tr GROUP BY 1, 2),
      |model AS (SELECT prev_type, next_type AS predicted FROM (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY prev_type
      |            ORDER BY n DESC, next_type) AS rn FROM cnt) WHERE rn = 1)
      |SELECT t.prev_type, m.predicted,
      |  CAST(SUM(CASE WHEN t.next_type = m.predicted THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
      |  COUNT(*) AS n_total,
      |  CAST(SUM(CASE WHEN t.next_type = m.predicted THEN 1 ELSE 0 END) AS DOUBLE)
      |    / COUNT(*) AS accuracy
      |FROM tr t JOIN model m ON m.prev_type = t.prev_type
      |GROUP BY 1, 2 ORDER BY 1""".stripMargin) { (s, d) =>
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("ts", "event_id")
    val tr = Tables.events(s, d)
      .select(col("event_type").as("prev_type"),
        lead(col("event_type"), 1).over(w).as("next_type"))
      .filter(col("next_type").isNotNull)
    val model = tr.groupBy("prev_type", "next_type").agg(count(lit(1)).as("n"))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("prev_type")
          .orderBy(col("n").desc, col("next_type"))))
      .filter(col("rn") === 1)
      .select(col("prev_type"), col("next_type").as("predicted"))
    tr.join(broadcast(model), Seq("prev_type"))
      .groupBy("prev_type", "predicted")
      .agg(sum(when(col("next_type") === col("predicted"), 1L).otherwise(0L)).as("n_correct"),
        count(lit(1)).as("n_total"))
      .select(col("prev_type"), col("predicted"), col("n_correct"), col("n_total"),
        (col("n_correct").cast("double") / col("n_total")).as("accuracy"))
      .orderBy("prev_type")
  }

  /** Second streaming oracle gate (q132 covers stateful flatMap; this
    * covers WINDOWED AGGREGATION): the q40 hourly rollup computed by the
    * streaming engine — file-source stream, tumbling window aggregate in
    * Complete mode (append would withhold the trailing windows of a
    * bounded stream behind the watermark), each batch's full result
    * replacing the last — hash-compared to the exact batch SQL. Decimal
    * sums keep streaming-state merge order irrelevant to the bits. */
  val q145 = QueryDef(
    "q145_streaming_hourly_gate",
    """SELECT time_bucket(INTERVAL '1 hour', ts) AS hour_start, event_type,
      |  COUNT(*) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS value_sum
      |FROM events
      |GROUP BY 1, 2 ORDER BY hour_start, event_type""".stripMargin) { (s, d) =>
    val ev = Epochs.events(s, d, sessionWidthPastOneFile = true)
    val tsCol = Tables.tsAsTimestamp(ev.input.schema("ts").dataType)
    Epochs.reduced(s, ev, "q145_hourly_sink", "complete") { src =>
      src().select(tsCol.as("ts"), col("event_type"), col("value"))
        .groupBy(window(col("ts"), "1 hour").getField("start").as("hour_start"),
          col("event_type"))
        .agg(count(lit(1)).as("n_events"), sum(d4(col("value"))).as("value_sum"))
    }(identity) {
      _.select(col("hour_start"), col("event_type"), col("n_events"),
          col("value_sum").cast("double").as("value_sum"))
        .orderBy("hour_start", "event_type")
    }
  }

  /** Third streaming oracle gate (q132: stateful flatMap; q145: windowed
    * aggregation; this: STATEFUL DEDUP — the streaming front door of
    * every ingestion pipeline): the same events file feeds TWO file-source
    * streams unioned together, so every event arrives (at least) twice;
    * `dropDuplicates(event_id)` must reduce the doubled stream back to
    * exactly the batch table, checked by hashing the per-type rollup
    * against the batch SQL over the ORIGINAL events.
    *
    * Determinism: the duplicate rows are byte-identical, so whichever
    * arrival wins, the kept row is the same. Decimal sums make the
    * aggregation order irrelevant to the bits (same discipline as q145).
    * Scale posture: dedup state is keyed by event_id and distributed
    * across the state store; production ingestion bounds it with
    * `dropDuplicatesWithinWatermark` (spec-covered in DedupIngestSpec) —
    * the unwatermarked form here is the bounded-replay gate shape. The
    * sink is `foreachBatch` reducing each batch to per-type decimal
    * partials on the executors (exact + associative, so batch splits
    * cannot perturb the bits) — the deduped rows themselves (∝ corpus)
    * never accumulate on the driver the way a memory sink would hold
    * them. */
  val q148 = QueryDef(
    "q148_streaming_dedup_gate",
    """SELECT event_type, COUNT(*) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS value_sum
      |FROM events GROUP BY 1 ORDER BY event_type""".stripMargin) { (s, d) =>
    Epochs.reduced(s, Epochs.events(s, d, sessionWidthPastOneFile = true),
        "q148_dedup_sink") { src =>
      def once = src().select(col("event_id"), col("event_type"), col("value"))
      once.unionByName(once).dropDuplicates("event_id")
    } {
      // the reduced frame is per-type-bounded — one task, one file per
      // batch, instead of replay-width tiny files + commit dance
      _.groupBy("event_type")
        .agg(count(lit(1)).as("n_events"), sum(d4(col("value"))).as("vsum"))
        .coalesce(1)
    } {
      _.groupBy("event_type")
        .agg(sum(col("n_events")).as("n_events"),
          sum(col("vsum")).cast("double").as("value_sum"))
        .orderBy("event_type")
    }
  }

  /** Fourth streaming oracle gate — STREAM-STREAM JOIN, the hardest
    * stateful operator (two keyed state stores, time-bounded matching):
    * watermarked click and purchase streams over the same events file are
    * inner-joined on user with purchase in (click, click + 1 hour]; the
    * per-user pair count and exact total lag (integer microseconds) must
    * hash-match the batch range join in DuckDB.
    *
    * Determinism: inner stream-stream joins emit exactly the matching
    * pairs (the watermark only bounds state retention; the strictly
    * time-ordered replay slices below mean no row ever arrives behind the
    * watermark, so nothing is late-dropped), and both engines compare
    * identical whole-microsecond instants.
    *
    * Scale posture — the replay is TIME-SLICED, which is what makes the
    * probe cost honest: a symmetric hash join keeps per-USER lists and
    * every purchase probes ALL of its user's stored clicks, so replaying
    * the whole corpus as one batch makes probe work quadratic in per-user
    * event density (the r9 100× profile: ~1.3k stored clicks per user ×
    * 2M purchases ≈ 2.7G predicate evals — 54 s of wall). Strict time
    * slices ([[StreamSliceHours]] = 240h, the measured optimum of the
    * slice-duration/batch-toll trade) advance the watermark between
    * batches, so state carries at most one slice plus the 24h horizon
    * (~264h of events) instead of the whole corpus — the bounded-state
    * shape an unbounded production stream actually has. Slicing is lossless here: every
    * batch's rows come after every prior batch's, so no input is ever
    * below the watermark, and a click's candidate purchases (≤ 1h later)
    * arrive before any watermark that could evict it. Only the two joined
    * types are staged (3 columns) — replay IO ∝ join input, not corpus.
    * The sink is `foreachBatch` reducing each batch to per-user integer
    * partials on the executors (exact + associative), so the matched
    * pairs (∝ corpus) never accumulate on the driver. */
  val q149 = QueryDef(
    "q149_streaming_join_gate",
    """WITH pr AS (
      |  SELECT c.user_id, date_diff('microsecond', c.ts, p.ts) AS lag_us
      |  FROM events c JOIN events p ON p.user_id = c.user_id
      |   AND c.event_type = 'click' AND p.event_type = 'purchase'
      |   AND p.ts > c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR)
      |SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_pairs,
      |  CAST(SUM(lag_us) AS BIGINT) AS total_lag_us
      |FROM pr GROUP BY 1 ORDER BY user_id""".stripMargin)(q149Impl()(_, _))

  /** q149 body; `rowsPerFile` sizes the staged replay (specs pass a tiny
    * value to force the multi-slice path at test scale); `sliceHours` is
    * the target slice duration — each micro-batch costs a fixed
    * state-store commit/planning toll, so slice duration trades that
    * per-batch toll against per-user state (and with it probe) size. */
  private[graft] def q149Impl(rowsPerFile: Long = OuterStageRowsPerFile,
      sliceHours: Long = StreamSliceHours)(
      s: org.apache.spark.sql.SparkSession, d: String): org.apache.spark.sql.DataFrame = {
    val raw = s.read.parquet(s"$d/events.parquet")
    val tsCol = Tables.tsAsTimestamp(raw.schema("ts").dataType)
    val ev = raw.filter(col("event_type").isin("click", "purchase"))
      .select(col("user_id"), tsCol.as("ts"), col("event_type"))
    // ONE whole-corpus batch at bench scale (the minimal replay); a
    // corpus past rowsPerFile slices into strict time ranges — see the
    // scale-posture note above
    val (lo, hi, rows) = timeRange(ev)
    val slices = sliceCount(rows, rowsPerFile, lo, hi, sliceHours)
    val filesPerSlice = math.max(1L, math.min(32L, rows / rowsPerFile / slices + 1)).toInt
    // a corpus past one staged file (sliced or multi-file) keeps the
    // caller's session width: the join's state-store puts scale per row
    val staging = Epochs.Stages(ev,
      slicedStages(ev, unix_micros(col("ts")), lo, hi, slices), filesPerSlice,
      sessionWidth = rows >= rowsPerFile)
    Epochs.reduced(s, staging, "q149_join_sink") { src =>
      // BUCKETED join key (q82's binned range join, streamed): state is
      // keyed by the equi-join key only, so a user-keyed join probes
      // EVERY stored click of that user per purchase — quadratic in
      // per-user density (the r9 100× floor). Adding the click's hour
      // bucket to the key, with purchases exploded to their bucket and
      // its predecessor, bounds each probe to ONE hour of one user's
      // clicks. Lossless and duplicate-free: a qualifying pair has
      // p_ts ∈ (c_ts, c_ts + 1h] ⇒ bucket(p) ∈ {bucket(c),
      // bucket(c) + 1} ⇒ exactly ONE of the two exploded purchase rows
      // carries bucket(c). Bucket arithmetic is exact (positive epochs,
      // integer div).
      val (clicks, purchases) = bucketedSides(src, "24 hours")
      clicks.join(purchases,
        col("p_user") === col("c_user") &&
          col("p_b") === col("c_b") &&
          col("p_ts") > col("c_ts") &&
          col("p_ts") <= col("c_ts") + expr("INTERVAL 1 HOUR"))
    } {
      // per-user-bounded reduced frame: one task per batch — at sliced
      // replay the per-batch write commit is a real toll
      _.groupBy(col("c_user"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(expr("unix_micros(p_ts) - unix_micros(c_ts)")).as("lag_us"))
        .coalesce(1)
    } {
      _.groupBy(col("c_user").as("user_id"))
        .agg(sum(col("n_pairs")).as("n_pairs"),
          sum(col("lag_us")).as("total_lag_us"))
        .orderBy("user_id")
    }
  }

  /** `(lo, hi, rows)` of `ev`'s `ts` in epoch micros (one job); an empty
    * input reads as `(0, 0, 0)`. */
  private def timeRange(ev: org.apache.spark.sql.DataFrame): (Long, Long, Long) = {
    val r = ev.agg(min(unix_micros(col("ts"))), max(unix_micros(col("ts"))),
      count(lit(1))).head()
    if (r.getLong(2) == 0L) (0L, 0L, 0L) else (r.getLong(0), r.getLong(1), r.getLong(2))
  }

  /** The click and purchase sides of the q149/q187 stream-stream joins,
    * each its own stream over the staged replay, watermarked `delay`
    * behind its event time and keyed by hour bucket: clicks by their own
    * bucket, purchases exploded to theirs and the one before. */
  private def bucketedSides(src: () => org.apache.spark.sql.DataFrame, delay: String)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    def side(tp: String, userAs: String, tsAs: String) = src()
      .filter(col("event_type") === tp)
      .select(col("user_id").as(userAs), col("ts").as(tsAs))
      .withWatermark(tsAs, delay)
    val hourBucket = (c: String) => expr(s"unix_micros($c) div ${3600L * 1000000L}L")
    (side("click", "c_user", "c_ts").withColumn("c_b", hourBucket("c_ts")),
      side("purchase", "p_user", "p_ts")
        .withColumn("p_b", explode(array(hourBucket("p_ts"), hourBucket("p_ts") - 1))))
  }

  /** q153: time-series gap fill — a dense per-user hourly spine over each
    * user's activity span, hours with no events filled with an explicit 0,
    * plus the running cumulative count over the FILLED series (the shape a
    * downstream rate/forecast job consumes: regular grid, no holes).
    *
    * Scale posture: events are first reduced to per-(user, hour) counts
    * (map-side combinable aggregate — the only pass over the raw fact);
    * the spine is an integer-range fan-out per user bounded by that user's
    * activity span, and the fill join is a shuffle equi-join on
    * (user_id, h) between two already-aggregated frames. The running sum
    * is windowed per user (state bounded by span hours), never a global
    * sort. Hour indexes are exact integer epoch-hours, reconstructed via
    * timestamp_micros on both engines — no float time math anywhere. */
  val q153 = QueryDef(
    "q153_time_gap_fill",
    """WITH e AS (
      |  SELECT user_id, epoch_ms(date_trunc('hour', ts)) // 3600000 AS h
      |  FROM events),
      |c AS (SELECT user_id, h, COUNT(*) AS n FROM e GROUP BY 1, 2),
      |b AS (SELECT user_id, min(h) AS lo, max(h) AS hi FROM c GROUP BY user_id),
      |s AS (SELECT user_id, unnest(range(lo, hi + 1)) AS h FROM b)
      |SELECT s.user_id, make_timestamp(s.h * 3600000000) AS hour_start,
      |  COALESCE(c.n, 0) AS n_events,
      |  CAST(SUM(COALESCE(c.n, 0)) OVER (PARTITION BY s.user_id ORDER BY s.h
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_events
      |FROM s LEFT JOIN c USING (user_id, h)
      |ORDER BY user_id, hour_start""".stripMargin) { (s, d) =>
    val e = Tables.events(s, d).select(col("user_id"),
      expr("unix_seconds(date_trunc('hour', ts)) div 3600").as("h"))
    val c = e.groupBy("user_id", "h").agg(count(lit(1)).as("n"))
    val b = c.groupBy("user_id").agg(min("h").as("lo"), max("h").as("hi"))
    val spine = b.select(col("user_id"), explode(sequence(col("lo"), col("hi"))).as("h"))
    val w = Window.partitionBy("user_id").orderBy("h")
      .rowsBetween(Window.unboundedPreceding, 0)
    spine.join(c, Seq("user_id", "h"), "left")
      .withColumn("n_events", coalesce(col("n"), lit(0L)))
      .select(col("user_id"),
        timestamp_micros(col("h") * 3600000000L).as("hour_start"),
        col("n_events"),
        sum(col("n_events")).over(w).as("cum_events"))
      .orderBy("user_id", "hour_start")
  }

  /** q155: distribution drift — the event-type mix of the first half of
    * the timeline vs the second (the monitoring primitive behind "did the
    * traffic composition shift?"). Per category: both counts, both shares,
    * and |Δshare|; the total-variation distance is Σ drift_ppm / 2.
    * Shares are ppm-quantized INTEGERS ((n * 10^6) div total) so the
    * statistic is exact and engine-identical — no float division, and
    * n * 10^6 stays inside int64 up to 9.2 trillion rows per half.
    *
    * Scale posture: one map-side-combinable conditional aggregate over the
    * fact (the q18 FILTER shape) keyed by the small category domain; the
    * midpoint and the two totals are 1-row bounded frames (broadcast by
    * construction, the q15 scalar-subquery shape). Nothing per-row ever
    * crosses the network twice. */
  val q155 = QueryDef(
    "q155_distribution_drift",
    """WITH e AS (
      |  SELECT event_type, epoch_ms(date_trunc('hour', ts)) // 3600000 AS h
      |  FROM events),
      |b AS (SELECT (min(h) + max(h) + 1) // 2 AS mid FROM e),
      |c AS (SELECT event_type,
      |        CAST(SUM(CASE WHEN h < mid THEN 1 ELSE 0 END) AS BIGINT) AS n_first,
      |        CAST(SUM(CASE WHEN h >= mid THEN 1 ELSE 0 END) AS BIGINT) AS n_second
      |      FROM e CROSS JOIN b GROUP BY 1),
      |t AS (SELECT CAST(SUM(n_first) AS BIGINT) AS t1,
      |             CAST(SUM(n_second) AS BIGINT) AS t2 FROM c)
      |SELECT event_type, n_first, n_second,
      |  CAST((n_first * 1000000) // greatest(t1, 1) AS BIGINT) AS share1_ppm,
      |  CAST((n_second * 1000000) // greatest(t2, 1) AS BIGINT) AS share2_ppm,
      |  CAST(abs((n_first * 1000000) // greatest(t1, 1)
      |    - (n_second * 1000000) // greatest(t2, 1)) AS BIGINT) AS drift_ppm
      |FROM c CROSS JOIN t ORDER BY event_type""".stripMargin) { (s, d) =>
    val e = Tables.events(s, d).select(col("event_type"),
      expr("unix_seconds(date_trunc('hour', ts)) div 3600").as("h"))
    val b = e.agg(expr("(min(h) + max(h) + 1) div 2").as("mid"))
    val c = e.crossJoin(broadcast(b))
      .groupBy("event_type")
      .agg(sum(when(col("h") < col("mid"), 1L).otherwise(0L)).as("n_first"),
        sum(when(col("h") >= col("mid"), 1L).otherwise(0L)).as("n_second"))
    val t = c.agg(sum(col("n_first")).as("t1"), sum(col("n_second")).as("t2"))
    c.crossJoin(broadcast(t))
      .select(col("event_type"), col("n_first"), col("n_second"),
        expr("(n_first * 1000000) div greatest(t1, 1)").as("share1_ppm"),
        expr("(n_second * 1000000) div greatest(t2, 1)").as("share2_ppm"),
        expr("""abs((n_first * 1000000) div greatest(t1, 1)
                  - (n_second * 1000000) div greatest(t2, 1))""").as("drift_ppm"))
      .orderBy("event_type")
  }

  /** q163: seasonal-naive forecast evaluation — score the "same hour last
    * week" predictor of hourly event volume per type against the naive
    * "previous hour" baseline: MASE-style ratio in exact integer ppm
    * (Σ|n_t − n_{t−168}| · 10^6 div Σ|n_t − n_{t−1}|). The standard
    * sanity gate any volume-forecast model must beat, computed with no
    * floats and no libm.
    *
    * Scale posture: the fact collapses to per-(type, hour) counts in one
    * map-side-combinable aggregate; the DENSE grid (missing hours are
    * real zeros — sparse joins would silently skip them) is types ×
    * span-hours, a bounded frame, so the LAG windows and the final
    * conditional sums never touch raw events. */
  val q163 = QueryDef(
    "q163_seasonal_naive_eval",
    """WITH e AS (
      |  SELECT event_type, epoch_ms(date_trunc('hour', ts)) // 3600000 AS h
      |  FROM events),
      |b AS (SELECT min(h) AS lo, max(h) AS hi FROM e),
      |ty AS (SELECT DISTINCT event_type FROM e),
      |s AS (SELECT event_type, unnest(range(lo, hi + 1)) AS h
      |      FROM ty CROSS JOIN b),
      |c AS (SELECT event_type, h, COUNT(*) AS n FROM e GROUP BY 1, 2),
      |f AS (SELECT s.event_type, s.h, COALESCE(c.n, 0) AS n
      |      FROM s LEFT JOIN c USING (event_type, h)),
      |l AS (SELECT event_type, n,
      |        LAG(n, 168) OVER (PARTITION BY event_type ORDER BY h) AS sn,
      |        LAG(n, 1) OVER (PARTITION BY event_type ORDER BY h) AS pn
      |      FROM f)
      |SELECT event_type,
      |  CAST(COUNT(*) AS BIGINT) AS n_hours,
      |  CAST(SUM(abs(n - sn)) AS BIGINT) AS abs_err_seasonal,
      |  CAST(SUM(abs(n - pn)) AS BIGINT) AS abs_err_naive,
      |  CAST((SUM(abs(n - sn)) * 1000000) // greatest(SUM(abs(n - pn)), 1)
      |    AS BIGINT) AS mase_ppm
      |FROM l WHERE sn IS NOT NULL
      |GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, d) =>
    val e = Tables.events(s, d).select(col("event_type"),
      expr("unix_seconds(date_trunc('hour', ts)) div 3600").as("h"))
    val b = e.agg(min(col("h")).as("lo"), max(col("h")).as("hi"))
    val ty = e.select("event_type").distinct()
    val spine = ty.crossJoin(broadcast(b))
      .select(col("event_type"), explode(sequence(col("lo"), col("hi"))).as("h"))
    val c = e.groupBy("event_type", "h").agg(count(lit(1)).as("n"))
    val f = spine.join(c, Seq("event_type", "h"), "left")
      .withColumn("n", coalesce(col("n"), lit(0L)))
    val w = Window.partitionBy("event_type").orderBy("h")
    f.select(col("event_type"), col("n"),
        lag(col("n"), 168).over(w).as("sn"),
        lag(col("n"), 1).over(w).as("pn"))
      .filter(col("sn").isNotNull)
      .groupBy("event_type").agg(
        count(lit(1)).as("n_hours"),
        sum(abs(col("n") - col("sn"))).as("abs_err_seasonal"),
        sum(abs(col("n") - col("pn"))).as("abs_err_naive"))
      .select(col("event_type"), col("n_hours"), col("abs_err_seasonal"),
        col("abs_err_naive"),
        expr("(abs_err_seasonal * 1000000) div greatest(abs_err_naive, 1)")
          .as("mase_ppm"))
      .orderBy("event_type")
  }

  /** q167: FIFTH streaming oracle gate — built-in `session_window`
    * sessionization (30-min gap) streamed over the real events table and
    * hash-compared to batch SQL. Semantics pinned precisely: session
    * windows are [t, t+30m) intervals merged on OVERLAP, so a gap of
    * EXACTLY 30 minutes starts a new session — the oracle therefore uses
    * `>=` where q41's lag/cumsum batch form uses `>` (the two definitions
    * differ only on that measure-zero boundary; the events feed carries
    * no sub-microsecond components, so µs truncation cannot manufacture
    * a boundary case).
    *
    * Complete output mode: a bounded AvailableNow replay must emit every
    * session, including those the watermark would still hold in append
    * mode (q145's lesson). State is per-user open sessions — bounded by
    * the gap horizon at any real event-time skew. */
  val q167 = QueryDef(
    "q167_streaming_session_gate",
    """WITH flagged AS (
      |  SELECT user_id, ts,
      |    CASE WHEN ts - LAG(ts) OVER w >= INTERVAL 30 MINUTE THEN 1 ELSE 0 END
      |      AS new_session
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
      |sessions AS (
      |  SELECT user_id, SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      |  FROM flagged)
      |SELECT user_id,
      |  CAST(COUNT(DISTINCT session_id) AS BIGINT) AS n_sessions,
      |  COUNT(*) AS n_events
      |FROM sessions GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, d) =>
    import graft.streaming.EventStream
    val ev = Epochs.events(s, d)
    val tsCol = Tables.tsAsTimestamp(ev.input.schema("ts").dataType)
    Epochs.reduced(s, ev, "q167_session_sink", "complete") { src =>
      EventStream.sessionRollup(src().select(col("user_id"), tsCol.as("ts"), col("value")))
    }(_.select("user_id", "n_events")) {
      _.groupBy("user_id")
        .agg(count(lit(1)).as("n_sessions"), sum(col("n_events")).as("n_events"))
        .orderBy("user_id")
    }
  }

  /** q171: volume anomaly detection — hours whose event count sits more
    * than 3σ from the type's mean hourly volume, over the DENSE grid
    * (missing hours are zeros; a sparse scan can't flag an outage). The
    * 3σ test is INTEGER-EXACT via cross-multiplication: with n hours,
    * Σx, Σx², flag x when (n·x − Σx)² > 9·(n·Σx² − (Σx)²) — both sides
    * exact int64, no float mean/stddev anywhere (int64 headroom to ~3M
    * events/hour/type at a 720-hour window; both engines fail loudly on
    * overflow past that rather than silently diverging).
    *
    * Scale posture: q163's grid discipline — one map-side count
    * aggregate over the fact, the spine and moments frames are bounded
    * (types × span-hours and |types| rows), the flag join is an
    * equi-join on event_type against the tiny moments frame. */
  val q171 = QueryDef(
    "q171_volume_anomalies",
    """WITH e AS (
      |  SELECT event_type, epoch_ms(date_trunc('hour', ts)) // 3600000 AS h
      |  FROM events),
      |b AS (SELECT min(h) AS lo, max(h) AS hi FROM e),
      |ty AS (SELECT DISTINCT event_type FROM e),
      |s AS (SELECT event_type, unnest(range(lo, hi + 1)) AS h
      |      FROM ty CROSS JOIN b),
      |c AS (SELECT event_type, h, COUNT(*) AS n FROM e GROUP BY 1, 2),
      |f AS (SELECT s.event_type, s.h, COALESCE(c.n, 0) AS x
      |      FROM s LEFT JOIN c USING (event_type, h)),
      |m AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS nh,
      |        CAST(SUM(x) AS BIGINT) AS sx,
      |        CAST(SUM(x * x) AS BIGINT) AS sxx
      |      FROM f GROUP BY 1)
      |SELECT f.event_type, make_timestamp(f.h * 3600000000) AS hour_start,
      |  f.x AS n_events,
      |  m.nh * f.x - m.sx AS dev_num,
      |  (m.nh * f.x - m.sx) * (m.nh * f.x - m.sx) AS dev_sq,
      |  9 * (m.nh * m.sxx - m.sx * m.sx) AS nine_var_sq
      |FROM f JOIN m USING (event_type)
      |WHERE (m.nh * f.x - m.sx) * (m.nh * f.x - m.sx)
      |    > 9 * (m.nh * m.sxx - m.sx * m.sx)
      |ORDER BY event_type, hour_start""".stripMargin) { (s, d) =>
    val e = Tables.events(s, d).select(col("event_type"),
      expr("unix_seconds(date_trunc('hour', ts)) div 3600").as("h"))
    val b = e.agg(min(col("h")).as("lo"), max(col("h")).as("hi"))
    val ty = e.select("event_type").distinct()
    val spine = ty.crossJoin(broadcast(b))
      .select(col("event_type"), explode(sequence(col("lo"), col("hi"))).as("h"))
    val c = e.groupBy("event_type", "h").agg(count(lit(1)).as("n"))
    val f = spine.join(c, Seq("event_type", "h"), "left")
      .withColumn("x", coalesce(col("n"), lit(0L))).drop("n")
    val m = f.groupBy("event_type").agg(
      count(lit(1)).as("nh"),
      sum(col("x")).as("sx"),
      sum(col("x") * col("x")).as("sxx"))
    f.join(m, Seq("event_type"))
      .withColumn("dev_num", col("nh") * col("x") - col("sx"))
      .withColumn("dev_sq", col("dev_num") * col("dev_num"))
      .withColumn("nine_var_sq",
        lit(9L) * (col("nh") * col("sxx") - col("sx") * col("sx")))
      .filter(col("dev_sq") > col("nine_var_sq"))
      .select(col("event_type"),
        timestamp_micros(col("h") * 3600000000L).as("hour_start"),
        col("x").as("n_events"), col("dev_num"), col("dev_sq"), col("nine_var_sq"))
      .orderBy("event_type", "hour_start")
  }

  /** q173: conversion-latency distribution — time from a user's FIRST
    * view to their first subsequent purchase, summarized per user
    * segment as count, exact total, and interpolated p50/p90 (q68's
    * proven cross-engine percentile convention). The product-analytics
    * complement to q120's stage funnel: not "how many convert" but "how
    * long conversion takes". Lags are integer microseconds on both
    * engines (ns→µs truncation is identical — the q149 contract).
    *
    * Scale posture: two conditional MIN aggregates per user (map-side
    * combined) and a user-key join; the percentile pass runs over the
    * per-user lag frame, bounded by the user population, never raw
    * events. */
  val q173 = QueryDef(
    "q173_conversion_latency",
    """WITH t1 AS (SELECT user_id, MIN(ts) AS t1 FROM events
      |            WHERE event_type = 'view' GROUP BY 1),
      |t3 AS (SELECT e.user_id, MIN(e.ts) AS t3 FROM events e
      |       JOIN t1 ON t1.user_id = e.user_id
      |       WHERE e.event_type = 'purchase' AND e.ts > t1.t1 GROUP BY 1),
      |lg AS (SELECT t1.user_id, epoch_us(t3.t3) - epoch_us(t1.t1) AS lag_us
      |       FROM t1 JOIN t3 ON t3.user_id = t1.user_id)
      |SELECT CAST(user_id % 3 AS BIGINT) AS segment,
      |  COUNT(*) AS n_converted,
      |  CAST(SUM(lag_us) AS BIGINT) AS total_lag_us,
      |  quantile_cont(lag_us, 0.5) AS p50_us,
      |  quantile_cont(lag_us, 0.9) AS p90_us
      |FROM lg GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
    val ev = Tables.events(s, d)
    val t1 = ev.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min(col("ts")).as("t1"))
    val t3 = ev.filter(col("event_type") === "purchase")
      .join(t1, Seq("user_id"))
      .filter(col("ts") > col("t1"))
      .groupBy("user_id").agg(min(col("ts")).as("t3"))
    t1.join(t3, Seq("user_id"))
      .select(col("user_id"),
        (expr("unix_micros(t3)") - expr("unix_micros(t1)")).as("lag_us"))
      .groupBy((col("user_id") % 3).as("segment"))
      .agg(count(lit(1)).as("n_converted"),
        sum(col("lag_us")).as("total_lag_us"),
        expr("percentile(lag_us, 0.5)").as("p50_us"),
        expr("percentile(lag_us, 0.9)").as("p90_us"))
      .orderBy("segment")
  }

  /** q176: inter-arrival statistics — per event type, the distribution
    * of gaps between a user's consecutive events of that type: exact
    * integer-µs count/total plus interpolated p50/p90 (q68's percentile
    * convention). The workload-characterization primitive behind rate
    * limits, session-gap tuning (is 30 min the right q41 cutoff?), and
    * synthetic-load modeling.
    *
    * Scale posture: the lag window partitions by (user, type) — per-user
    * activity-bounded partitions, the q41 contract — and everything
    * downstream aggregates per type (map-side combined, |types| rows). */
  val q176 = QueryDef(
    "q176_interarrival_stats",
    """WITH g AS (
      |  SELECT event_type,
      |    epoch_us(ts) - epoch_us(LAG(ts) OVER (PARTITION BY user_id, event_type
      |                                          ORDER BY ts, event_id)) AS gap_us
      |  FROM events)
      |SELECT event_type,
      |  COUNT(gap_us) AS n_gaps,
      |  CAST(SUM(gap_us) AS BIGINT) AS total_gap_us,
      |  quantile_cont(gap_us, 0.5) AS p50_us,
      |  quantile_cont(gap_us, 0.9) AS p90_us
      |FROM g WHERE gap_us IS NOT NULL
      |GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, d) =>
    val w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    Tables.events(s, d)
      .withColumn("prev_ts", lag(col("ts"), 1).over(w))
      .select(col("event_type"),
        (expr("unix_micros(ts)") - expr("unix_micros(prev_ts)")).as("gap_us"))
      .filter(col("gap_us").isNotNull)
      .groupBy("event_type")
      .agg(count(col("gap_us")).as("n_gaps"),
        sum(col("gap_us")).as("total_gap_us"),
        expr("percentile(gap_us, 0.5)").as("p50_us"),
        expr("percentile(gap_us, 0.9)").as("p90_us"))
      .orderBy("event_type")
  }

  /** q179: SIXTH streaming oracle gate — the hourly per-type volume
    * rollup computed BY THE STREAM (Complete-mode tumbling windows, the
    * q145 machinery) and then anomaly-flagged with q171's integer-exact
    * 3σ test, hash-compared to the batch SQL. Proves the stream's state
    * output composes with downstream batch analytics bit-for-bit: the
    * streamed counts ARE the batch counts, so the anomaly set is
    * identical. Sparse-vs-dense honesty: tumbling windows only emit
    * OBSERVED hours, so this gate intentionally scores the sparse grid
    * (q171 keeps the dense-grid/zero-fill variant — an outage hour is
    * invisible here and flagged there).
    *
    * Scale posture: streaming state is bounded by windows × types
    * (q145's contract); the flag join is an equi-join against a
    * |types|-row moments frame. */
  val q179 = QueryDef(
    "q179_streaming_anomaly_gate",
    """WITH c AS (
      |  SELECT event_type, time_bucket(INTERVAL '1 hour', ts) AS hour_start,
      |         COUNT(*) AS x
      |  FROM events GROUP BY 1, 2),
      |m AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS nh,
      |        CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(x * x) AS BIGINT) AS sxx
      |      FROM c GROUP BY 1)
      |SELECT c.event_type, c.hour_start, c.x AS n_events
      |FROM c JOIN m USING (event_type)
      |WHERE (m.nh * c.x - m.sx) * (m.nh * c.x - m.sx)
      |    > 9 * (m.nh * m.sxx - m.sx * m.sx)
      |ORDER BY event_type, hour_start""".stripMargin) { (s, d) =>
    val ev = Epochs.events(s, d)
    val tsCol = Tables.tsAsTimestamp(ev.input.schema("ts").dataType)
    Epochs.reduced(s, ev, "q179_anomaly_sink", "complete") { src =>
      src().select(col("event_type"), tsCol.as("ts"))
        .groupBy(window(col("ts"), "1 hour").getField("start").as("hour_start"),
          col("event_type"))
        .agg(count(lit(1)).as("x"))
    }(identity) { c =>
      val m = c.groupBy("event_type").agg(
        count(lit(1)).as("nh"), sum(col("x")).as("sx"),
        sum(col("x") * col("x")).as("sxx"))
      c.join(m, Seq("event_type"))
        .filter((col("nh") * col("x") - col("sx")) * (col("nh") * col("x") - col("sx"))
          > lit(9L) * (col("nh") * col("sxx") - col("sx") * col("sx")))
        .select(col("event_type"), col("hour_start"), col("x").as("n_events"))
        .orderBy("event_type", "hour_start")
    }
  }

  /** q183: SEVENTH streaming oracle gate — LATE DATA vs the WATERMARK,
    * the semantics none of the six replay gates exercise (they deliver
    * bounded in-order files, so the watermark never drops anything).
    * The events table is split into three files replayed as separate
    * micro-batches (`maxFilesPerTrigger=1`, modTimes force the order):
    *
    *  1. on-time rows — everything except the late set, INCLUDING the
    *     global max timestamp M, so the watermark advances to exactly
    *     M − 2h (the `withWatermark` delay) when this batch commits;
    *  2. a 1-row `__spacer` sentinel at ts = M — its batch runs with
    *     eviction watermark M − 2h, so every window ending ≤ M − 2h is
    *     finalized and emitted HERE. The spacer exists because Spark's
    *     late-event filter lags one batch behind eviction (SPARK-24634:
    *     late events are judged against the PREVIOUS batch's watermark,
    *     so state never resurrects an emitted window) — without it the
    *     late rows would arrive while the filter still sits at −∞ and
    *     be absorbed instead of dropped;
    *  3. the late set — `event_id % 7 = 0 AND ts < M − 4h`: every row's
    *     1-hour window ended ≤ M − 3h, an hour below BOTH watermark
    *     readings, and the window was already emitted in batch 2 — so
    *     Spark MUST drop all of them, deterministically, regardless of
    *     whether its filter compares event time or window end, `<` or
    *     `≤`;
    *  4. a single `__flush` sentinel at M + 10h — drives the final
    *     watermark to M + 8h, past every real window end, so the
    *     closing no-data batch emits the remaining windows.
    *
    * Sentinel types are filtered from the sink batch-side; the real
    * windows carry on-time contributions only. The oracle applies the
    * same watermark rule as a plain SQL filter: drop exactly
    * `event_id % 7 = 0 AND ts < max(ts) − 4h`. A hash-match therefore
    * proves both directions: every late row was dropped AND no on-time
    * row was (the dropped-row count is the deterministic complement of
    * the surviving `n_events` sum).
    *
    * Scale posture: state is windows × types (q145's contract); late
    * rows cost one filter evaluation and never touch state — exactly
    * the behavior that bounds a production stream's state under
    * out-of-order arrival. */
  val q183 = QueryDef(
    "q183_streaming_late_gate",
    """WITH m AS (SELECT max(ts) AS mts FROM events),
      |surv AS (
      |  SELECT e.* FROM events e, m
      |  WHERE NOT (e.event_id % 7 = 0 AND e.ts < m.mts - INTERVAL 4 HOUR))
      |SELECT time_bucket(INTERVAL '1 hour', ts) AS hour_start, event_type,
      |  COUNT(*) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS value_sum
      |FROM surv GROUP BY 1, 2 ORDER BY hour_start, event_type""".stripMargin)(q183Impl()(_, _))

  /** q183 body; `rowsPerFile` sizes the staged replay files (specs pass a
    * tiny value to force the multi-file aligned-batch path at test scale). */
  private[graft] def q183Impl(rowsPerFile: Long = OuterStageRowsPerFile)(
      s: org.apache.spark.sql.SparkSession, d: String): org.apache.spark.sql.DataFrame = {
    val ev = Tables.events(s, d)
      .select("event_id", "ts", "user_id", "event_type", "value")
    val mn = ev.agg(max(expr("unix_micros(ts)")), count(lit(1))).head()
    val mMicros = mn.getLong(0)
    // parallel multi-file staging (Epochs.Stages): every replay batch
    // lands as the same number of files (sentinels padded), and
    // maxFilesPerTrigger = that width keeps the four-batch boundary
    // exact. One file per batch at bench scale, identical to the
    // original single-file replay; a multi-file corpus keeps the
    // caller's session width.
    val nFiles = math.max(1L,
      math.min(32L, mn.getLong(1) / rowsPerFile + 1)).toInt
    val hourUs = 3600L * 1000000L
    val isLate = col("event_id") % 7 === 0 &&
      expr("unix_micros(ts)") < mMicros - 4 * hourUs
    def sentinel(name: String, tsMicros: Long) = s.range(1).select(
      lit(-1L).as("event_id"), timestamp_micros(lit(tsMicros)).as("ts"),
      lit(-1L).as("user_id"), lit(name).as("event_type"),
      lit(0.0).as("value"))

    val staging = Epochs.Stages(ev, Seq(
      ("a_ontime", ev.filter(!isLate), 0),
      ("b_spacer", sentinel("__spacer", mMicros), 10),
      ("c_late", ev.filter(isLate), 20),
      ("d_flush", sentinel("__flush", mMicros + 10 * hourUs), 30)), nFiles,
      sessionWidth = nFiles > 1)
    Epochs.reduced(s, staging, "q183_late_sink") {
      _().withWatermark("ts", "2 hours")
        // group by the window STRUCT (not .getField("start") as in the
        // Complete-mode gates): append mode requires the watermark-tagged
        // event-time window column in the grouping key
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n_events"), sum(d4(col("value"))).as("value_sum"))
        .select(col("window.start").as("hour_start"), col("event_type"),
          col("n_events"), col("value_sum"))
    }(identity) {
      _.filter(!col("event_type").isin("__spacer", "__flush"))
        .select(col("hour_start"), col("event_type"), col("n_events"),
          col("value_sum").cast("double").as("value_sum"))
        .orderBy("hour_start", "event_type")
    }
  }

  /** q187: EIGHTH streaming oracle gate — stream-stream LEFT OUTER join,
    * the semantics q149's inner join never exercises: a click with no
    * purchase inside its 1-hour window must still EMIT, null-extended,
    * once the watermark proves no match can arrive. Outer results are
    * the hard half of streaming joins — they exist only because state
    * eviction is event-time-driven, so this gate is what proves the
    * watermark actually closes unmatched state instead of holding (or
    * dropping) it.
    *
    * Replay shape: the real events as strictly time-ordered slices (ONE
    * whole-corpus slice at bench scale), then two watermark CARRIER
    * batches at M + 48h and M + 96h. A carrier must be one click row
    * plus one purchase row under the reserved user_id −1 — NOT an
    * out-of-band sentinel type: Catalyst pushes the event-type filter
    * BELOW the EventTimeWatermark node (writing `withWatermark` before
    * `.filter` does not survive optimization), so only rows that pass
    * each side's filter can advance that side's watermark. The carriers
    * share no user with real events (they join nothing) and are masked
    * out of the batch-side rollup. TWO carrier batches because eviction
    * lags the watermark by one batch (the q183 spacer discipline /
    * SPARK-24634): the M + 48h batch runs its eviction with the last
    * slice's watermark — still below the last clicks' windows — and
    * only the M + 96h batch, carrying the M + 47h reading, provably
    * flushes every remaining unmatched click. The batch oracle is the
    * same LEFT JOIN with the same interval bound as plain SQL; a
    * hash-match proves matched multiplicity AND the unmatched
    * complement survived exactly once.
    *
    * Scale posture: state is keyed by user and bounded by the watermark
    * horizon, and unmatched rows leave state exactly once — the property
    * that keeps a production outer join's memory flat under unbounded
    * input. Large corpora replay as STRICT time slices (the q149
    * contract and losslessness argument, with the carrier pair appended
    * after the last slice): intermediate slices advance the watermark,
    * so per-user state — and with it the per-purchase PROBE over the
    * user's stored clicks, the quadratic-in-density term a single-batch
    * replay pays — stays inside the horizon, and unmatched clicks flush
    * PROGRESSIVELY instead of all at the end. Further mechanics: only
    * the two joined types are staged (3 columns, replay IO ∝ join
    * input); each slice is parallel-written and carrier batches are
    * PADDED to the common file width so `maxFilesPerTrigger` boundaries
    * stay exact; and the sink is `foreachBatch` reducing every batch to
    * per-user count partials on the executors — the joined rows
    * (∝ corpus) NEVER land on the driver, unlike a memory sink, which
    * buffers them all. Counts are decomposable, so summing the partials
    * afterwards is exact regardless of which batch emitted which row. */
  val q187 = QueryDef(
    "q187_streaming_outer_join_gate",
    """WITH j AS (
      |  SELECT c.user_id, p.ts AS p_ts
      |  FROM (SELECT user_id, ts FROM events WHERE event_type = 'click') c
      |  LEFT JOIN (SELECT user_id, ts FROM events WHERE event_type = 'purchase') p
      |    ON p.user_id = c.user_id AND p.ts > c.ts
      |   AND p.ts <= c.ts + INTERVAL 1 HOUR)
      |SELECT user_id, COUNT(*) AS n_rows,
      |  COUNT(p_ts) AS n_matched,
      |  CAST(COUNT(*) - COUNT(p_ts) AS BIGINT) AS n_unmatched
      |FROM j GROUP BY 1 ORDER BY user_id""".stripMargin)(q187Impl()(_, _))

  /** q187 body; `rowsPerFile` sizes the staged replay files (specs pass a
    * tiny value to force the multi-file padded-carrier path at test
    * scale); `sliceHours` trades per-batch toll against state size (see
    * [[StreamSliceHours]]). */
  private[graft] def q187Impl(rowsPerFile: Long = OuterStageRowsPerFile,
      sliceHours: Long = StreamSliceHours)(
      s: org.apache.spark.sql.SparkSession, d: String): org.apache.spark.sql.DataFrame = {
    val raw = s.read.parquet(s"$d/events.parquet")
    val tsCol = Tables.tsAsTimestamp(raw.schema("ts").dataType)
    // only the two joined types are staged (3 columns): replay IO is
    // ∝ join input, not corpus
    val ev = raw.filter(col("event_type").isin("click", "purchase"))
      .select(col("user_id"), tsCol.as("ts"), col("event_type"))
    val hourUs = 3600L * 1000000L
    // one click + one purchase carrier so BOTH sides' post-filter
    // watermark domains observe the flush instant
    def carriers(tsMicros: Long) = {
      def row(tp: String) = s.range(1).select(
        lit(-1L).as("user_id"), timestamp_micros(lit(tsMicros)).as("ts"),
        lit(tp).as("event_type"))
      row("click").unionByName(row("purchase"))
    }
    // q149's strict time slicing (ONE whole-corpus slice at bench scale),
    // with the two flush carriers appended after the last slice; aligned
    // staging pads every batch to the common file width so the batch
    // boundaries survive multi-file staging
    val (lo, hi, rows) = timeRange(ev)
    val slices = sliceCount(rows, rowsPerFile, lo, hi, sliceHours)
    val filesPerSlice = math.max(1L, math.min(32L, rows / rowsPerFile / slices + 1)).toInt
    val staging = Epochs.Stages(ev,
      slicedStages(ev, unix_micros(col("ts")), lo, hi, slices, prefix = "a_") ++ Seq(
        ("b_flush", carriers(hi + 48 * hourUs), slices * 10),
        ("c_flush", carriers(hi + 96 * hourUs), slices * 10 + 10)),
      filesPerSlice, sessionWidth = rows >= rowsPerFile)
    Epochs.reduced(s, staging, "q187_outer_sink") { src =>
      // q149's bucketed join key (see there): bounds each probe to one
      // hour-bucket of one user's clicks. For the OUTER join the left
      // (click) side stays un-exploded, so null-extension multiplicity
      // is untouched: a click matches exactly the purchases it matched
      // on the unbucketed key (one exploded row carries its bucket),
      // and an unmatched click still emits exactly one null row.
      val (clicks, purchases) = bucketedSides(src, "1 hour")
      clicks.join(purchases,
        col("p_user") === col("c_user") &&
          col("p_b") === col("c_b") &&
          col("p_ts") > col("c_ts") &&
          col("p_ts") <= col("c_ts") + expr("INTERVAL 1 HOUR"),
        "left_outer")
    } {
      // executor-side reduction to per-user count partials (one task per
      // batch): the joined rows themselves (∝ corpus) never reach the
      // driver
      _.filter(col("c_user") =!= -1) // mask the watermark carriers
        .groupBy(col("c_user"))
        .agg(count(lit(1)).as("n_rows"), count(col("p_ts")).as("n_matched"))
        .coalesce(1)
    } {
      _.groupBy(col("c_user").as("user_id"))
        .agg(sum(col("n_rows")).as("n_rows"),
          sum(col("n_matched")).as("n_matched"))
        .select(col("user_id"), col("n_rows"), col("n_matched"),
          (col("n_rows") - col("n_matched")).as("n_unmatched"))
        .orderBy("user_id")
    }
  }

  /** Eleventh streaming oracle gate — STREAM-STATIC ENRICHMENT, the single
    * most common production streaming shape (a fact stream joined to a
    * slowly-changing dimension snapshot) and the one join form the other
    * gates don't cover: q149/q187 are stream-STREAM (stateful, watermark-
    * bounded); this join is STATELESS — each micro-batch probes the static
    * `customer` frame and emits immediately, no state store, no watermark.
    * The events stream is enriched with the customer's market segment
    * (left join: an event whose user has no dimension row keeps flowing,
    * tagged '(none)' — enrichment must never drop facts), then reduced
    * per (segment, event_type) and hash-compared to the batch SQL.
    *
    * Determinism: counts and DECIMAL sums are exact and associative, so
    * micro-batch boundaries cannot perturb the bits (the q148 discipline).
    * Scale posture: the dimension is `broadcast()` — at 100 TB the fact
    * stream never shuffles for this join (probe-side-only, executor-local);
    * a dimension too big to broadcast becomes the q184/q189 SCD2 shape
    * instead. The sink is foreachBatch reducing to segment×type partials
    * on the executors; joined rows (∝ corpus) never reach the driver. */
  val q193 = QueryDef(
    "q193_streaming_enrich_gate",
    """SELECT COALESCE(c.c_mktsegment, '(none)') AS segment, e.event_type,
      |  COUNT(*) AS n_events,
      |  CAST(SUM(CAST(e.value AS DECIMAL(18,4))) AS DOUBLE) AS value_sum
      |FROM events e LEFT JOIN customer c ON c.c_custkey = e.user_id
      |GROUP BY 1, 2 ORDER BY segment, event_type""".stripMargin) { (s, d) =>
    val dim = broadcast(
      Tables.customer(s, d).select(col("c_custkey"), col("c_mktsegment")))
    Epochs.reduced(s, Epochs.events(s, d, sessionWidthPastOneFile = true),
        "q193_enrich_sink") {
      _().select(col("user_id"), col("event_type"), col("value"))
        .join(dim, col("user_id") === col("c_custkey"), "left")
    } {
      // segment×type-bounded reduced frame: one task, one file per batch
      _.groupBy(coalesce(col("c_mktsegment"), lit("(none)")).as("segment"),
          col("event_type"))
        .agg(count(lit(1)).as("n_events"), sum(d4(col("value"))).as("vsum"))
        .coalesce(1)
    } {
      _.groupBy("segment", "event_type")
        .agg(sum(col("n_events")).as("n_events"),
          sum(col("vsum")).cast("double").as("value_sum"))
        .orderBy("segment", "event_type")
    }
  }

  val all: Seq[QueryDef] = Seq(q40, q41, q70, q107, q120, q122, q132, q138, q139,
    q142, q145, q148, q149, q153, q155, q163, q167, q171, q173, q176, q179, q183,
    q187, q193)
}
