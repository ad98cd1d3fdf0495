package graft.operators

import org.apache.spark.sql.functions._
import graft.core.{QueryDef, Tables}

/** Near-duplicate cluster resolution: connected components over the
  * verified near-dup pair graph, assigning every document to a component
  * whose id is the minimum doc_id it can reach — i.e. the keeper. This is
  * the step that turns pair detection (q48) into actual corpus
  * deduplication (drop every doc whose component ≠ itself).
  *
  * Edges come from the banded MinHash-LSH candidate pipeline
  * ([[Dedup.lshVerifiedPairs]] / [[Dedup.lshPairsCtes]]) — the 100 TB
  * shape: candidate generation is a bucket equi-join, never an all-pairs
  * shingle self-join. Both engines consume the SAME pair definition, so
  * the component fixpoint agrees exactly regardless of LSH recall.
  *
  * Spark side: iterative min-label propagation over the edge list — each
  * round is one join + aggregate (all distributed), `localCheckpoint`ed so
  * lineage stays O(1) across rounds instead of growing by one join per
  * round. Rounds needed = graph diameter (near-dup clusters are tiny
  * chains). Non-convergence within the round budget is an ERROR, not a
  * silently-shipped wrong answer. The oracle computes the same fixpoint
  * with a recursive CTE; the component-id objective (min reachable doc_id)
  * is algorithm-independent, so both engines agree exactly.
  */
object DedupClusters {

  /** THE fixpoint round budget — shared by [[propagateMin]]'s label
    * propagation AND [[Dedup.resolveThroughMappings]]' hop-by-hop
    * mapping walk (one constant, ADVICE r15 #1: distinct ingest-side and
    * read-side budgets let a store ingest a chain its own readback then
    * refused). Chains stay short because mappings are path-compressed on
    * write and [[Dedup.compactSignatureStore]] collapses surviving
    * chains to single hops, so the budget is a diameter guard, not a
    * tuning knob. */
  private[graft] val MaxRounds = 64

  /** The component-fixpoint oracle (min reachable doc_id over the
    * LSH-verified pair graph, membership = "appears in >= 1 pair") —
    * shared verbatim by q71 (monolithic) and q203 (incrementally
    * maintained): the objective is algorithm-independent, so ANY correct
    * maintenance scheme must reproduce this exact table. */
  private[operators] val componentsOracleSql: String =
    s"""WITH RECURSIVE ${Dedup.lshPairsCtes},
       |pairs AS (SELECT doc_a, doc_b FROM verified),
       |edges AS (SELECT doc_a AS s, doc_b AS t FROM pairs
       |          UNION ALL SELECT doc_b, doc_a FROM pairs),
       |closure(a, b) AS (
       |  SELECT s, t FROM edges
       |  UNION
       |  SELECT c.a, e.t FROM closure c JOIN edges e ON e.s = c.b),
       |comp AS (
       |  SELECT a AS doc_id, least(min(b), a) AS component
       |  FROM closure GROUP BY a)
       |SELECT c.doc_id, c.component,
       |  CAST(COUNT(*) OVER (PARTITION BY c.component) AS BIGINT) AS n_members,
       |  c.doc_id = c.component AS is_keeper
       |FROM comp c ORDER BY component, doc_id""".stripMargin

  /** Emission shape shared by q71/q203: per-component member counts and
    * the keeper flag over a (doc_id, component) label frame. */
  private def withMembership(labels: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy("component")
    labels
      .withColumn("n_members", count(lit(1)).over(w))
      .withColumn("is_keeper", col("doc_id") === col("component"))
      .select("doc_id", "component", "n_members", "is_keeper")
      .orderBy("component", "doc_id")
  }

  val q71 = QueryDef(
    "q71_neardup_components",
    componentsOracleSql) { (s, d) =>
    withMembership(components(s, d))
  }

  /** Connected components over the LSH-verified near-dup graph:
    * (doc_id, component = min reachable doc_id), for docs that appear in
    * at least one pair. Shared by q71 and the dedup-aware split (q131). */
  private[operators] def components(s: org.apache.spark.sql.SparkSession,
                                    d: String): org.apache.spark.sql.DataFrame = {
    // edges from the scalable LSH pair detector (q48), both directions
    val pairs = Dedup.lshVerifiedPairs(s, d).select("doc_a", "doc_b")
    val edges = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .unionByName(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
    propagateMin(edges)
  }

  /** Min-label propagation to fixpoint over a DIRECTED edge frame
    * (src, dst) — pass both directions for an undirected graph. `init`
    * seeds node labels (doc_id, component); nodes absent from `init`
    * (and init-only nodes with no edge) start at themselves. Returns
    * (doc_id, component = min label reachable from the node).
    *
    * Shared by q71's monolithic components (init = empty: every node
    * starts at itself, fixpoint = min reachable doc_id), q203's
    * per-epoch merge-graph contraction (init = current resolved labels;
    * the graph is EPOCH-bounded — pairs + component links — never the
    * corpus), and q203's read-time mapping closure (the merge-mapping
    * chains, whose root IS the min because merges always adopt the
    * smaller component id).
    *
    * Every round materializes via [[Dedup.pin]] (localCheckpoint on a
    * single JVM, reliable checkpoint under `spark.graft.checkpointDir`)
    * so the next round's plan starts from stored blocks — constant-depth
    * lineage, no recursive re-execution. Rounds needed = graph diameter;
    * non-convergence within the budget is an ERROR, not a silently
    * shipped wrong answer. */
  /** Driver union-find for the min-label fixpoint over a SYMMETRIC,
    * bounded edge list: union every edge, then label each node with the
    * minimum `seeded` value of its connected component — exactly the
    * fixpoint [[propagateMin]]'s distributed loop converges to when the
    * caller passes both edge directions (every caller does). `extraNodes`
    * adds edge-less nodes (init-only seeds) to the universe. Returns
    * node -> final label for every node seen. */
  private[graft] def unionFindMin(
      edges: Array[(Long, Long)],
      extraNodes: Array[Long],
      seeded: Long => Long): scala.collection.mutable.LongMap[Long] = {
    val idx = new scala.collection.mutable.LongMap[Int]()
    val ids = new scala.collection.mutable.ArrayBuffer[Long]()
    def intern(v: Long): Int =
      if (idx.contains(v)) idx(v)
      else { val i = ids.length; idx.update(v, i); ids += v; i }
    edges.foreach { case (a, b) => intern(a); intern(b); () }
    extraNodes.foreach { v => intern(v); () }
    val parent = Array.tabulate(ids.length)(identity)
    def find(x0: Int): Int = {
      var x = x0
      while (parent(x) != x) { parent(x) = parent(parent(x)); x = parent(x) }
      x
    }
    edges.foreach { case (a, b) =>
      val ra = find(idx(a)); val rb = find(idx(b))
      if (ra != rb) parent(ra) = rb
    }
    val minSeed = Array.fill(ids.length)(Long.MaxValue)
    var i = 0
    while (i < ids.length) {
      val r = find(i)
      val sv = seeded(ids(i))
      if (sv < minSeed(r)) minSeed(r) = sv
      i += 1
    }
    val out = new scala.collection.mutable.LongMap[Long](ids.length)
    i = 0
    while (i < ids.length) { out.update(ids(i), minSeed(find(i))); i += 1 }
    out
  }

  private[graft] def propagateMin(edges0: org.apache.spark.sql.DataFrame,
      init: Option[org.apache.spark.sql.DataFrame] = None,
      driverCeiling: Long = Dedup.MaxBroadcastCandidateDocs)
      : org.apache.spark.sql.DataFrame = {
    // Driver fast path (guide §1.2/§5: the fixed cost here is actions ×
    // per-action scheduling overhead, not task width): every caller passes
    // a candidate- or mapping-bounded SYMMETRIC edge list (both
    // directions), so under the kernel's broadcast ceiling the fixpoint is
    // ONE bounded collect + a union-find — identical labels (min seeded
    // value over each connected component) with zero per-round
    // checkpoint+count barriers. Over the ceiling: the distributed loop
    // below, unchanged (the same skew trade as the kernel's candidate
    // collect; the probe's limit scan is the only extra cost).
    val local = for {
      eArr <- Dedup.collectUnder(edges0.select("src", "dst"), driverCeiling)
      iArr <- init.fold(Option(Array.empty[org.apache.spark.sql.Row]))(i =>
        Dedup.collectUnder(i.select("doc_id", "component"), driverCeiling))
    } yield (eArr, iArr)
    local match {
      case Some((eArr, iArr)) =>
        val s = edges0.sparkSession
        // seeded label = min init component per doc, else the doc itself
        // (exactly the distributed loop's coalesce(min(c0), doc_id))
        val initMap = new scala.collection.mutable.LongMap[Long]()
        iArr.foreach { r =>
          val d = r.getLong(0); val c = r.getLong(1)
          if (c < initMap.getOrElse(d, Long.MaxValue)) initMap.update(d, c)
        }
        val edges = eArr.map(r => (r.getLong(0), r.getLong(1)))
        val extra = new scala.collection.mutable.ArrayBuffer[Long]()
        initMap.foreach { case (k, _) => extra += k }
        val fin = unionFindMin(edges, extra.toArray,
          v => initMap.getOrElse(v, v))
        // label rows for edge SOURCES ∪ init ids — the distributed loop's
        // node set (with symmetric edges, sources cover every endpoint)
        val outSeen = new scala.collection.mutable.LongMap[Boolean]()
        val out = new scala.collection.mutable.ArrayBuffer[(Long, Long)]()
        def emit(v: Long): Unit =
          if (!outSeen.contains(v)) { outSeen.update(v, true); out += ((v, fin(v))) }
        edges.foreach { case (a, _) => emit(a) }
        initMap.foreach { case (k, _) => emit(k) }
        import s.implicits._
        return out.toSeq.toDF("doc_id", "component")
      case None => ()
    }
    val edges = edges0.cache()
    val nodes = edges.select(col("src").as("doc_id")).distinct()
    val seeded = init match {
      case Some(i) => nodes
        .unionByName(i.select("doc_id")).distinct()
        .join(i.groupBy("doc_id").agg(min(col("component")).as("c0")),
          Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("c0"), col("doc_id")).as("component"))
      case None => nodes.withColumn("component", col("doc_id"))
    }
    var labels = Dedup.pin(seeded)
    var changed = 1L
    var rounds = 0
    while (changed > 0 && rounds < MaxRounds) {
      val viaNeighbor = edges
        .join(labels.toDF("dst", "nbr_component"), Seq("dst"))
        .groupBy(col("src").as("doc_id"))
        .agg(min(col("nbr_component")).as("best_nbr"))
      val stepped = Dedup.pin(labels.join(viaNeighbor, Seq("doc_id"), "left")
        .select(col("doc_id"), col("component"),
          least(col("component"), coalesce(col("best_nbr"), col("component"))).as("next_component")))
      changed = stepped.filter(col("next_component") =!= col("component")).count()
      labels = stepped.select(col("doc_id"), col("next_component").as("component"))
      rounds += 1
    }
    // the loop ran eagerly (per-round count actions) and the final labels
    // are pin-materialized, so the edge cache is dead weight from here
    // on — release it on the failure path too, not just success
    edges.unpersist()
    if (changed > 0)
      throw new IllegalStateException(
        s"connected-components label propagation did not converge after $MaxRounds rounds " +
          s"($changed labels still changing) — graph diameter exceeds the round budget")
    labels
  }

  /** Dedup-AWARE train/val/test split (the leakage problem Lee et al.
    * 2022 measure: near-duplicates straddling the train/test boundary
    * inflate eval): a naive per-doc hash split scatters the members of a
    * near-dup cluster across splits, so the same (near-)text trains AND
    * evaluates; hashing the COMPONENT id instead sends whole clusters to
    * one split. Emits both schemes' split sizes plus the hard number —
    * verified near-dup pairs whose endpoints landed in different splits:
    * nonzero for naive, ZERO by construction for aware.
    *
    * Scale posture: components are the q71 fixpoint (already bounded);
    * split assignment is one hash expression; leakage counting joins the
    * pair list against the (doc_id, split) assignment twice. The pair
    * list is candidate-bounded and broadcasts; the split assignment is
    * one row PER DOCUMENT — corpus-cardinality, so it must never carry a
    * broadcast hint (the same contract as Dedup's `sizes` frame). */
  val q131 = QueryDef(
    "q131_dedup_aware_split",
    s"""WITH RECURSIVE ${Dedup.lshPairsCtes},
       |pairs AS (SELECT doc_a, doc_b FROM verified),
       |edges AS (SELECT doc_a AS s, doc_b AS t FROM pairs
       |          UNION ALL SELECT doc_b, doc_a FROM pairs),
       |closure(a, b) AS (
       |  SELECT s, t FROM edges
       |  UNION
       |  SELECT c.a, e.t FROM closure c JOIN edges e ON e.s = c.b),
       |comp AS (
       |  SELECT a AS doc_id, least(min(b), a) AS component
       |  FROM closure GROUP BY a),
       |lbl AS (
       |  SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS component
       |  FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id),
       |sp AS (
       |  SELECT doc_id,
       |    CASE WHEN h_doc < 8 THEN 'train' WHEN h_doc = 8 THEN 'val' ELSE 'test' END AS naive_split,
       |    CASE WHEN h_cmp < 8 THEN 'train' WHEN h_cmp = 8 THEN 'val' ELSE 'test' END AS aware_split
       |  FROM (SELECT doc_id,
       |          ('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 10 AS h_doc,
       |          ('0x' || substr(md5('split:' || CAST(component AS VARCHAR)), 1, 15))::BIGINT % 10 AS h_cmp
       |        FROM lbl)),
       |leak AS (
       |  SELECT
       |    CAST(COALESCE(SUM(CASE WHEN a.naive_split <> b.naive_split THEN 1 ELSE 0 END), 0) AS BIGINT) AS naive_leak,
       |    CAST(COALESCE(SUM(CASE WHEN a.aware_split <> b.aware_split THEN 1 ELSE 0 END), 0) AS BIGINT) AS aware_leak
       |  FROM pairs p JOIN sp a ON a.doc_id = p.doc_a JOIN sp b ON b.doc_id = p.doc_b)
       |SELECT 'aware' AS scheme,
       |  CAST(SUM(CASE WHEN aware_split = 'train' THEN 1 ELSE 0 END) AS BIGINT) AS n_train,
       |  CAST(SUM(CASE WHEN aware_split = 'val' THEN 1 ELSE 0 END) AS BIGINT) AS n_val,
       |  CAST(SUM(CASE WHEN aware_split = 'test' THEN 1 ELSE 0 END) AS BIGINT) AS n_test,
       |  (SELECT aware_leak FROM leak) AS leaked_pairs
       |FROM sp
       |UNION ALL
       |SELECT 'naive',
       |  CAST(SUM(CASE WHEN naive_split = 'train' THEN 1 ELSE 0 END) AS BIGINT),
       |  CAST(SUM(CASE WHEN naive_split = 'val' THEN 1 ELSE 0 END) AS BIGINT),
       |  CAST(SUM(CASE WHEN naive_split = 'test' THEN 1 ELSE 0 END) AS BIGINT),
       |  (SELECT naive_leak FROM leak)
       |FROM sp ORDER BY scheme""".stripMargin) { (s, d) =>
    import graft.functions.TextFunctions.hash60
    def splitOf(c: org.apache.spark.sql.Column) = {
      val h = hash60(concat(lit("split:"), c.cast("string"))) % 10
      when(h < 8, "train").when(h === 8, "val").otherwise("test")
    }
    val lbl = Tables.documents(s, d).select("doc_id")
      .join(components(s, d), Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("component"), col("doc_id")).as("component"))
      .select(col("doc_id"), splitOf(col("doc_id")).as("naive_split"),
        splitOf(col("component")).as("aware_split"))
      .cache()
    val pairs = Dedup.lshVerifiedPairs(s, d).select("doc_a", "doc_b")
    // broadcast the candidate-bounded PAIR side; `lbl` is one row per
    // corpus document and must join by shuffle (a broadcast hint on it
    // would ship the whole corpus's split assignment to every executor)
    val leak = broadcast(pairs)
      .join(lbl.select(col("doc_id").as("doc_a"),
        col("naive_split").as("na"), col("aware_split").as("aa")), Seq("doc_a"))
      .join(lbl.select(col("doc_id").as("doc_b"),
        col("naive_split").as("nb"), col("aware_split").as("ab")), Seq("doc_b"))
      .agg(
        coalesce(sum(when(col("na") =!= col("nb"), 1L).otherwise(0L)), lit(0L)).as("naive_leak"),
        coalesce(sum(when(col("aa") =!= col("ab"), 1L).otherwise(0L)), lit(0L)).as("aware_leak"))
    def scheme(name: String, splitCol: String, leakCol: String) =
      lbl.agg(
        sum(when(col(splitCol) === "train", 1L).otherwise(0L)).as("n_train"),
        sum(when(col(splitCol) === "val", 1L).otherwise(0L)).as("n_val"),
        sum(when(col(splitCol) === "test", 1L).otherwise(0L)).as("n_test"))
        .crossJoin(broadcast(leak.select(col(leakCol).as("leaked_pairs"))))
        .select(lit(name).as("scheme"), col("n_train"), col("n_val"),
          col("n_test"), col("leaked_pairs"))
    scheme("aware", "aware_split", "aware_leak")
      .unionByName(scheme("naive", "naive_split", "naive_leak"))
      .orderBy("scheme")
  }

  /** q156: canonical selection — within each near-dup component, keep the
    * HIGHEST-QUALITY member (q44's 3-gate score; ties to the lower
    * doc_id), not blindly the minimum id. This is the curation-correct
    * form of cluster collapse: q71 answers "which docs are the same?",
    * this answers "which copy do we train on?".
    *
    * Scale posture: quality is a per-doc projection joined to the
    * component labels on doc_id (two per-doc frames, shuffle equi-join,
    * nothing broadcast); the winner per component is ONE
    * max(struct(quality, -doc_id)) hash aggregate — map-side combinable,
    * never a window over the corpus — joined back on the component key. */
  /** q44's 3-gate quality score, shared by q156 (canonical selection) and
    * q181 (dedup savings) — SQL and Column forms kept in lockstep. */
  private val qualSql =
    """(CASE WHEN length(text) BETWEEN 100 AND 500 THEN 1 ELSE 0 END
      | + CASE WHEN len(string_split(trim(text), ' ')) >= 15 THEN 1 ELSE 0 END
      | + CASE WHEN len(regexp_extract_all(text, '[^a-z0-9 ]')) * 10
      |        <= len(string_split(trim(text), ' ')) THEN 1 ELSE 0 END)""".stripMargin

  private def qualityCol: org.apache.spark.sql.Column =
    when(length(col("text")).between(100, 500), 1).otherwise(0) +
      when(size(split(trim(col("text")), " ")) >= 15, 1).otherwise(0) +
      when(graft.functions.TextFunctions.punctCount(col("text")) * 10
          <= size(split(trim(col("text")), " ")), 1).otherwise(0)

  /** The canonical-election oracle (per-component argmax(quality,
    * tiebreak min doc_id) over the q71 fixpoint) — shared verbatim by
    * q156 (monolithic) and q204 (maintained): the election objective is
    * algorithm-independent, so the maintained path must reproduce this
    * exact table. */
  private[operators] val canonicalOracleSql: String =
    s"""WITH RECURSIVE ${Dedup.lshPairsCtes},
       |pairs AS (SELECT doc_a, doc_b FROM verified),
       |edges AS (SELECT doc_a AS s, doc_b AS t FROM pairs
       |          UNION ALL SELECT doc_b, doc_a FROM pairs),
       |closure(a, b) AS (
       |  SELECT s, t FROM edges
       |  UNION
       |  SELECT c.a, e.t FROM closure c JOIN edges e ON e.s = c.b),
       |comp AS (
       |  SELECT a AS doc_id, least(min(b), a) AS component
       |  FROM closure GROUP BY a),
       |q AS (SELECT doc_id, $qualSql AS quality FROM documents),
       |j AS (SELECT c.doc_id, c.component, q.quality
       |      FROM comp c JOIN q USING (doc_id)),
       |best AS (SELECT component, max(struct_pack(q := quality, nd := -doc_id)) AS b
       |         FROM j GROUP BY component)
       |SELECT j.doc_id, j.component, CAST(j.quality AS INT) AS quality_score,
       |  -(b.b).nd AS canonical_id,
       |  j.doc_id = -(b.b).nd AS is_canonical
       |FROM j JOIN best b USING (component)
       |ORDER BY component, doc_id""".stripMargin

  /** Canonical election shared by q156/q204: argmax(quality, tiebreak
    * min doc_id) per component over a (doc_id, component, quality)
    * frame — one component-keyed max(struct) hash aggregate joined
    * back, never a window over the corpus. */
  private def withCanonical(j: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val best = j.groupBy("component")
      .agg(max(struct(col("quality").as("q"), (-col("doc_id")).as("nd"))).as("b"))
      .select(col("component"), (-col("b").getField("nd")).as("canonical_id"))
    j.join(best, Seq("component"))
      .select(col("doc_id"), col("component"),
        col("quality").cast("int").as("quality_score"),
        col("canonical_id"),
        (col("doc_id") === col("canonical_id")).as("is_canonical"))
      .orderBy("component", "doc_id")
  }

  val q156 = {
    QueryDef(
      "q156_canonical_selection",
      canonicalOracleSql) { (s, d) =>
      val qual = Tables.documents(s, d).select(col("doc_id"), qualityCol.as("quality"))
      withCanonical(components(s, d).join(qual, Seq("doc_id")))
    }
  }

  /** q181: dedup token-savings report — THE headline number of every
    * dedup paper ("X% of training tokens were duplicates"): total corpus
    * tokens, tokens surviving exact dedup (keep-min-doc_id per content
    * hash), tokens surviving near-dup canonical collapse (q156's
    * quality-argmax keepers), and both savings in exact integer ppm.
    * One row, computed entirely from gate-proven building blocks.
    *
    * Scale posture: token counts are per-doc expression work; exact-dup
    * keepers are one digest-keyed aggregate (q46's shape); near-dup
    * removals join the component labels (candidate-bounded) against the
    * per-doc token frame on doc_id. Output is single-row scalars. */
  /** The savings-report oracle — shared verbatim by q181 (monolithic)
    * and q205 (maintained from store state): same objective, so the
    * maintained path must reproduce this exact single row. */
  private[operators] lazy val savingsOracleSql: String =
    s"""WITH RECURSIVE ${Dedup.lshPairsCtes},
       |pairs AS (SELECT doc_a, doc_b FROM verified),
       |edges AS (SELECT doc_a AS s, doc_b AS t FROM pairs
       |          UNION ALL SELECT doc_b, doc_a FROM pairs),
       |closure(a, b) AS (
       |  SELECT s, t FROM edges
       |  UNION
       |  SELECT c.a, e.t FROM closure c JOIN edges e ON e.s = c.b),
       |comp AS (
       |  SELECT a AS doc_id, least(min(b), a) AS component
       |  FROM closure GROUP BY a),
       |q AS (SELECT doc_id, $qualSql AS quality FROM documents),
       |j AS (SELECT c.doc_id, c.component, q.quality
       |      FROM comp c JOIN q USING (doc_id)),
       |best AS (SELECT component, max(struct_pack(q := quality, nd := -doc_id)) AS b
       |         FROM j GROUP BY component),
       |noncanon AS (SELECT j.doc_id FROM j JOIN best b USING (component)
       |             WHERE j.doc_id <> -(b.b).nd),
       |tok AS (SELECT doc_id, len(string_split(trim(text), ' ')) AS nt,
       |          md5(trim(text)) AS dg FROM documents),
       |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
       |          CAST(SUM(nt) AS BIGINT) AS total FROM tok),
       |ex AS (SELECT CAST(SUM(t2.nt) AS BIGINT) AS kept
       |       FROM (SELECT MIN(doc_id) AS k FROM tok GROUP BY dg) kk
       |       JOIN tok t2 ON t2.doc_id = kk.k),
       |nd AS (SELECT CAST(COALESCE(SUM(t3.nt), 0) AS BIGINT) AS removed
       |       FROM noncanon nc JOIN tok t3 ON t3.doc_id = nc.doc_id)
       |SELECT tot.n_docs, tot.total AS total_tokens,
       |  ex.kept AS tokens_after_exact,
       |  tot.total - nd.removed AS tokens_after_neardup,
       |  CAST(((tot.total - ex.kept) * 1000000) // greatest(tot.total, 1)
       |    AS BIGINT) AS exact_savings_ppm,
       |  CAST((nd.removed * 1000000) // greatest(tot.total, 1) AS BIGINT)
       |    AS neardup_savings_ppm
       |FROM tot CROSS JOIN ex CROSS JOIN nd""".stripMargin

  val q181 = QueryDef(
    "q181_dedup_savings",
    savingsOracleSql) { (s, d) =>
    val tok = Tables.documents(s, d).select(col("doc_id"),
      size(split(trim(col("text")), " ")).cast("long").as("nt"),
      md5(trim(col("text"))).as("dg"))
    val tot = tok.agg(count(lit(1)).as("n_docs"), sum(col("nt")).as("total"))
    val keepers = tok.groupBy("dg").agg(min(col("doc_id")).as("doc_id"))
      .join(tok.select("doc_id", "nt"), Seq("doc_id"))
      .agg(sum(col("nt")).as("kept"))
    val labels = components(s, d)
    val qual = Tables.documents(s, d).select(col("doc_id"), qualityCol.as("quality"))
    val j = labels.join(qual, Seq("doc_id"))
    val best = j.groupBy("component")
      .agg(max(struct(col("quality").as("q"), (-col("doc_id")).as("nd"))).as("b"))
      .select(col("component"), (-col("b").getField("nd")).as("canonical_id"))
    val removed = j.join(best, Seq("component"))
      .filter(col("doc_id") =!= col("canonical_id"))
      .join(tok.select("doc_id", "nt"), Seq("doc_id"))
      .agg(coalesce(sum(col("nt")), lit(0L)).as("removed"))
    savingsReport(tot, keepers, removed)
  }

  /** The savings report's closing arithmetic, shared by q181/q205:
    * single-row tot(n_docs, total) × kept(kept) × removed(removed)
    * frames into the exact-ppm report row. */
  private def savingsReport(tot: org.apache.spark.sql.DataFrame,
      keepers: org.apache.spark.sql.DataFrame,
      removed: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    tot.crossJoin(broadcast(keepers)).crossJoin(broadcast(removed))
      .select(col("n_docs"), col("total").as("total_tokens"),
        col("kept").as("tokens_after_exact"),
        (col("total") - col("removed")).as("tokens_after_neardup"),
        expr("((total_tokens - tokens_after_exact) * 1000000) div greatest(total_tokens, 1)")
          .as("exact_savings_ppm"),
        expr("(removed * 1000000) div greatest(total_tokens, 1)")
          .as("neardup_savings_ppm"))
      .select("n_docs", "total_tokens", "tokens_after_exact", "tokens_after_neardup",
        "exact_savings_ppm", "neardup_savings_ppm")

  /** q203: INCREMENTAL cluster maintenance — q71's component labels kept
    * current as the corpus arrives in doc_id-ordered epochs, without ever
    * recomputing the fixpoint over the accumulated corpus. Each epoch
    * runs q199's incremental kernel (this epoch's verified pairs = those
    * whose later endpoint just arrived), contracts the EPOCH-BOUNDED
    * merge graph (pair edges + endpoint↔current-component links), and
    * commits labels + absorbed-component mappings with the epoch's
    * signatures in ONE ledgered append ([[Dedup.clusterIngestEpoch]]).
    * The oracle is exactly q71's monolithic recursive-CTE fixpoint —
    * "maintenance never changes the clustering" as an oracle-gated
    * guarantee, the q201/q202 discipline applied to cluster resolution.
    *
    * Scale posture: per-epoch work is batch compute + candidate-bounded
    * store probes (the kernel's contract) + an endpoint-bounded label
    * fixpoint; members of an absorbed component are re-pointed by ONE
    * kind-5 mapping row, never rewritten, so no epoch ever touches
    * store-proportional label state. Readback resolves the mapping
    * closure once, at query time. */
  /** The documents table ingested as four doc_id-ordered epochs through
    * [[Dedup.clusterIngestEpoch]] ([[ingestClusterEpochs]]), memoized
    * per session: whichever of q203/q204/q205/q214/q221/q222 runs first
    * pays the ingest, and all read the SAME state the way two dashboard
    * queries share one warehouse table. */
  private def clusterIngestedStore(s: org.apache.spark.sql.SparkSession,
      d: String): graft.sources.TableStore =
    Epochs.memo(s, d, "graft-cluster-ingest")(ingestClusterEpochs(_, s, d))

  /** Arrival-time per-doc metadata for the maintained aggregates, in the
    * clusterIngestEpoch sidecar shape (doc_id, kind, bkt, h, n):
    *  - kind 6: h = whitespace token count, n = the q156 quality score —
    *    q204's election input and q205's token masses;
    *  - kind 7: the content digest for EXACT dedup — md5(trim(text))
    *    split into two 60-bit halves (h = hex chars 1-15, n = 16-30;
    *    120 of 128 bits, far beyond any corpus's birthday bound), so
    *    digest equality is two BIGINT equalities in the store schema.
    * Text is touched exactly here; every later read is store-local. */
  private def clusterDocMeta(batch: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val t = trim(col("text"))
    def hex60(from: Int) =
      expr(s"CAST(conv(substring(md5(trim(text)), $from, 15), 16, 10) AS BIGINT)")
    batch.select(col("doc_id"), lit(6).as("kind"), lit(0L).as("bkt"),
        size(split(t, " ")).cast("long").as("h"),
        qualityCol.cast("long").as("n"))
      .unionByName(batch.select(col("doc_id"), lit(7).as("kind"),
        lit(0L).as("bkt"), hex60(1).as("h"), hex60(16).as("n")))
  }

  /** Per-doc dataset-card rows stamped at arrival — the typed sidecar
    * TABLE (`card`: doc_id, source, lang, n_chars, ntok) the maintained
    * q214 card aggregates, carrying the string dimensions the long-only
    * kind-tagged state schema cannot (VERDICT r15 next #4). Text is
    * touched exactly here. */
  private[graft] def cardRows(batch: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    batch.select(col("doc_id"), col("source"), col("lang"), col("n_chars"),
      size(graft.functions.TextFunctions.tokens(col("text")))
        .cast("long").as("ntok"))

  /** Feed the documents table into `st` as 4 equal doc_id-ordered
    * epochs of [[Dedup.clusterIngestEpoch]] (quality/token/digest
    * metadata riding as kind-6/7 sidecar rows), each epoch also stamping
    * its [[cardRows]] into the `card` table. The card append commits
    * AFTER the state flip under the same epoch id on its own ledger (the
    * dedup sink's multi-table discipline): a crash between the two
    * replays to state-no-op + card-apply, so the pair converges. Builds
    * the memoized q203–q205/q214 store. */
  private def ingestClusterEpochs(st: graft.sources.TableStore,
      s: org.apache.spark.sql.SparkSession, d: String): Unit = {
    val docs = Tables.documents(s, d)
      .select("doc_id", "text", "source", "lang", "n_chars")
    Dedup.buildDedupState(st, docs.limit(0))
    st.create("card", cardRows(docs.limit(0)))
    val sl = Epochs.slice(docs, col("doc_id"), 4)
    def pinEpoch1(): Unit = {
      st.pinVersion("state", "epoch1")
      st.pinVersion("card", "epoch1"); ()
    }
    Epochs.direct(sl) { (batch, e) =>
      Dedup.clusterIngestEpoch(st, meta = Some(clusterDocMeta))(batch, e)
      st.appendBatch("card", e, cardRows(batch))
      // retention pin after epoch 1: the snapshot q221/q222 serve
      // ("yesterday's corpus release"), carried through any later
      // compaction's vacuum by the pin contract
      if (e == 1L) pinEpoch1()
    }
    if (sl.epochs == 0) pinEpoch1()
  }

  val q203 = QueryDef(
    "q203_incremental_cluster_ingest",
    componentsOracleSql) { (s, d) =>
    withMembership(Dedup.clusterLabels(clusterIngestedStore(s, d)))
  }

  /** q204: INCREMENTAL canonical selection — q156's quality-argmax keeper
    * maintained on the q203 store instead of recomputed from the corpus:
    * labels come from the maintained kind-4/5 state, quality scores from
    * the kind-6 metadata written when each doc ARRIVED, so electing the
    * canonical never re-reads a byte of corpus text. Argmax is
    * associative and commutative, so the maintained election over
    * resolved labels equals the monolithic one — and the oracle (q156's
    * recursive-CTE fixpoint verbatim) gates exactly that.
    *
    * Scale posture: readback is the mapping-closure resolve (q203) plus
    * one store-local equi-join (labels ⋈ kind-6 meta) and a
    * component-keyed max(struct) hash aggregate — no corpus scan, no
    * window over the corpus. */
  val q204 = QueryDef(
    "q204_incremental_canonical",
    canonicalOracleSql) { (s, d) =>
    val st = clusterIngestedStore(s, d)
    val j = Dedup.clusterLabels(st)
      .join(Dedup.stateDocMeta(st.table("state"))
        .select(col("doc_id"), col("n").cast("int").as("quality")),
        Seq("doc_id"))
    withCanonical(j)
  }

  /** q205: MAINTAINED dedup-savings report — q181's headline numbers
    * ("X% of training tokens were duplicates") computed entirely from
    * the q203 store, never from corpus text: token masses and quality
    * from the kind-6 sidecar, exact-dup keepers from the kind-7 content
    * digests (min doc_id per 120-bit md5 key — one hash aggregate),
    * near-dup removals from the maintained labels + the q204 election.
    * The oracle is q181's monolithic SQL verbatim, so "the dashboard a
    * continuous ingest keeps current equals the batch recomputation" is
    * oracle-gated like the rest of the maintained family.
    *
    * Scale posture: every input is a store-local scan of per-doc rows
    * (2 BIGINTs each); the aggregates are hash aggregates keyed by
    * digest/component; output is one row. */
  val q205 = QueryDef(
    "q205_maintained_dedup_savings",
    savingsOracleSql) { (s, d) =>
    val st = clusterIngestedStore(s, d)
    val state = st.table("state")
    val tok = Dedup.stateDocMeta(state, kind = 6)
      .select(col("doc_id"), col("h").as("nt"), col("n").cast("int").as("quality"))
    val dig = Dedup.stateDocMeta(state, kind = 7)
      .select(col("doc_id"), col("h").as("d1"), col("n").as("d2"))
    val tot = tok.agg(count(lit(1)).as("n_docs"), sum(col("nt")).as("total"))
    val keepers = dig.groupBy("d1", "d2").agg(min(col("doc_id")).as("doc_id"))
      .join(tok.select("doc_id", "nt"), Seq("doc_id"))
      .agg(sum(col("nt")).as("kept"))
    val j = Dedup.clusterLabels(st).join(tok, Seq("doc_id"))
    val best = j.groupBy("component")
      .agg(max(struct(col("quality").as("q"), (-col("doc_id")).as("nd"))).as("b"))
      .select(col("component"), (-col("b").getField("nd")).as("canonical_id"))
    val removed = j.join(best, Seq("component"))
      .filter(col("doc_id") =!= col("canonical_id"))
      .agg(coalesce(sum(col("nt")), lit(0L)).as("removed"))
    savingsReport(tot, keepers, removed)
  }

  /** q214: MAINTAINED dataset card — q198's per-source release-notes
    * table computed entirely from the q203 store's card sidecar, never
    * from corpus text: every per-doc dimension (source, lang, n_chars,
    * token count) was stamped when the doc ARRIVED, so the release
    * dashboard reads store-local rows however large the corpus grew —
    * completing the "dashboards from state" story q205 started. The
    * oracle is q198's monolithic SQL verbatim, and the aggregation body
    * is shared with q198 ([[CorpusOps.datasetCard]]), so parity is
    * structural.
    *
    * Scale posture: one store-local scan of 4-column per-doc rows into
    * one source-keyed hash aggregate; at corpus scale the exact
    * percentile swaps for approx_percentile — that variant exists as
    * tested code with a verified rank-error budget, gated as q220. */
  val q214 = QueryDef(
    "q214_maintained_dataset_card",
    CorpusOps.datasetCardOracleSql) { (s, d) =>
    CorpusOps.datasetCard(
      clusterIngestedStore(s, d).table("card")
        .select("source", "lang", "n_chars", "ntok"))
  }

  /** The streamed cluster-store build shared by q224/q225: stage the
    * documents as strict doc_id slices and drive
    * [[graft.streaming.DedupIngest.clusterIngestSink]] (state + meta
    * sidecar + card table, the full multi-table sink) through the shared
    * staged replay, then serve from the store. Fresh store per call —
    * the stream wiring is the thing under gate, so it runs every time
    * (q209's discipline). */
  private[graft] def streamedClusterServe(
      rowsPerFile: Long = EventsOps.OuterStageRowsPerFile, slices: Int = 2,
      sinkName: String)(
      s: org.apache.spark.sql.SparkSession, d: String)(
      serve: graft.sources.TableStore => org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val docs = Tables.documents(s, d)
      .select("doc_id", "text", "source", "lang", "n_chars")
    Epochs.scratchStore(s, "graft-cluster-stream") { st =>
      Dedup.buildDedupState(st, docs.limit(0))
      st.create("card", cardRows(docs.limit(0)))
      Epochs.streamed(s, Epochs.slice(docs, col("doc_id"), slices), rowsPerFile,
        sinkName)(graft.streaming.DedupIngest.clusterIngestSink(st,
          meta = Some(clusterDocMeta), card = Some(("card", cardRows))))
      serve(st)
    }
  }

  /** q224: the maintained CLUSTER store under a REAL `writeStream` —
    * the capstone streamed gate: each micro-batch runs the full q203
    * epoch (incremental LSH pairs, epoch-bounded merge-graph
    * contraction, kind-4/5 label+mapping rows, kind-6/7 metadata, card
    * sidecar) through [[graft.streaming.DedupIngest.clusterIngestSink]]
    * over the shared staged replay, and the served labels must equal
    * the monolithic component fixpoint — q203's oracle verbatim. With
    * q209/q210/q218/q219 every maintained store now has its stream
    * wiring on an oracle-gated path. */
  val q224 = QueryDef(
    "q224_streamed_cluster_store",
    componentsOracleSql) { (s, d) =>
    streamedClusterServe(sinkName = "q224_cluster_sink")(s, d)(st =>
      withMembership(Dedup.clusterLabels(st)))
  }

  /** q225: the dataset card served from the writeStream-built cluster
    * store's card sidecar — the release dashboard a LIVE ingest keeps
    * current, against q198's monolithic oracle verbatim (q214 proves
    * the direct-epoch path; this puts the streaming wiring itself on
    * the gated path for the card too). */
  val q225 = QueryDef(
    "q225_streamed_dataset_card",
    CorpusOps.datasetCardOracleSql) { (s, d) =>
    streamedClusterServe(sinkName = "q225_card_sink")(s, d)(st =>
      CorpusOps.datasetCard(
        st.table("card").select("source", "lang", "n_chars", "ntok")))
  }

  /** Rewrite an existing documents-table oracle to run over the first
    * TWO of the standard four doc_id epochs — the corpus exactly as the
    * maintained store stood at the "epoch1" pin. Injects the prefix CTEs
    * after WITH [RECURSIVE] and redirects every corpus read; the cut
    * formula mirrors [[ingestClusterEpochs]]' slicing (and q216's).
    *
    * This is STRING SURGERY on trusted, builder-authored oracles, so it
    * guards its own blind spots loudly (VERDICT r17 nit): an oracle with
    * no literal `FROM documents` read (aliased / schema-qualified /
    * never reading the corpus) would silently keep reading the FULL
    * table, and a `FROM documents` inside a quoted string literal would
    * be rewritten into a different literal — both produce a plausible
    * but WRONG oracle the gate would then "fail" against. Build-time
    * require beats gate-time head-scratching. */
  private[graft] def epochPrefixOracle(oracle: String): String = {
    require(oracle.contains("FROM documents"),
      "epochPrefixOracle: oracle has no 'FROM documents' read to redirect — " +
        "the rewrite would be a no-op and the gate would compare against the full corpus")
    // single-quoted SQL literals alternate with code on ' boundaries
    // (odd split indices = inside a literal; '' escapes split into two
    // adjacent literal segments, still odd — conservative either way)
    val literalHit = oracle.split("'", -1).zipWithIndex
      .exists { case (seg, i) => i % 2 == 1 && seg.contains("FROM documents") }
    require(!literalHit,
      "epochPrefixOracle: 'FROM documents' occurs inside a quoted SQL literal — " +
        "the global replace would rewrite the literal's text, not a corpus read")
    val prefixCtes =
      """b AS (SELECT MIN(doc_id) AS lo, MAX(doc_id) AS hi FROM documents),
        |docs_prefix AS (
        |  SELECT d.* FROM documents d, b
        |  WHERE d.doc_id < b.lo + 2 * ((b.hi - b.lo) // 4 + 1)),""".stripMargin
    val recursive = oracle.startsWith("WITH RECURSIVE ")
    val head = if (recursive) "WITH RECURSIVE " else "WITH "
    require(oracle.startsWith(head), s"oracle must start with WITH: $oracle")
    head + prefixCtes + "\n" +
      oracle.stripPrefix(head).replace("FROM documents", "FROM docs_prefix")
  }

  /** q221: TIME-TRAVEL serving of the maintained CLUSTER store —
    * "yesterday's corpus release" (VERDICT r16 next #6): the labels
    * q203 maintains, read from the retention-pinned post-epoch-1
    * snapshot ([[graft.sources.TableStore.tableAtPin]]) after two
    * further epochs have landed. Both the kind-4 labels and the kind-5
    * mapping closure come from the SAME snapshot frame
    * ([[Dedup.clusterLabelsFrom]]), and the oracle recomputes the
    * monolithic component fixpoint over the first two epochs' corpus
    * prefix — dedup lineage (which cluster was each doc in at release
    * k?) as an oracle-gated guarantee.
    *
    * Scale posture: the snapshot read scans the pinned version's files
    * plainly (audit path); the resolve is the same mapping-closure
    * fixpoint as the live read — never corpus-proportional. */
  val q221 = QueryDef(
    "q221_cluster_time_travel",
    epochPrefixOracle(componentsOracleSql)) { (s, d) =>
    withMembership(Dedup.clusterLabelsFrom(
      clusterIngestedStore(s, d).tableAtPin("state", "epoch1")))
  }

  /** q222: TIME-TRAVEL dataset card — q214's release dashboard served
    * from the card sidecar's pinned post-epoch-1 snapshot: "the card we
    * shipped with release k" reproduces bit-for-bit after later epochs
    * landed, against the monolithic q198 recomputation over the
    * two-epoch corpus prefix. With q221 this completes the
    * point-in-time story across the maintained family (index: q216;
    * labels: q221; card: q222). */
  val q222 = QueryDef(
    "q222_card_time_travel",
    epochPrefixOracle(CorpusOps.datasetCardOracleSql)) { (s, d) =>
    CorpusOps.datasetCard(
      clusterIngestedStore(s, d).tableAtPin("card", "epoch1")
        .select("source", "lang", "n_chars", "ntok"))
  }

  /** q220: the maintained card's AT-SCALE percentile variant — q214's
    * quartiles via `approx_percentile` over the card sidecar, with the
    * sketch's rank-error budget VERIFIED per group and hash-gated (the
    * doc-comment contract on q214 as tested code — see
    * [[CorpusOps.datasetCardApproxChecked]] for the budget). */
  val q220 = QueryDef(
    "q220_card_approx_percentiles",
    CorpusOps.datasetCardApproxOracleSql) { (s, d) =>
    CorpusOps.datasetCardApproxChecked(
      clusterIngestedStore(s, d).table("card").select("source", "ntok"))
  }

  /** q236's oracle: the q221 component fixpoint AND the q222 card
    * recomputed over the SAME two-epoch corpus prefix (one
    * [[epochPrefixOracle]] surgery over the combined monolithic SQL),
    * joined into one emission — the per-source card rows carrying the
    * release's cluster summary. */
  private val clusterReleaseOracleSql: String = epochPrefixOracle(
    s"""WITH RECURSIVE ${Dedup.lshPairsCtes},
       |pairs AS (SELECT doc_a, doc_b FROM verified),
       |edges AS (SELECT doc_a AS s, doc_b AS t FROM pairs
       |          UNION ALL SELECT doc_b, doc_a FROM pairs),
       |closure(a, b) AS (
       |  SELECT s, t FROM edges
       |  UNION
       |  SELECT c.a, e.t FROM closure c JOIN edges e ON e.s = c.b),
       |comp AS (
       |  SELECT a AS doc_id, least(min(b), a) AS component
       |  FROM closure GROUP BY a),
       |summ AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n_components,
       |         CAST(COALESCE(SUM(m), 0) AS BIGINT) AS n_clustered_docs,
       |         CAST(MAX(m) AS BIGINT) AS max_members
       |  FROM (SELECT component, COUNT(*) AS m FROM comp GROUP BY 1)),
       |t AS (
       |  SELECT source, lang, n_chars,
       |    len(string_split(trim(text), ' ')) AS ntok
       |  FROM documents),
       |card AS (
       |  SELECT source, COUNT(*) AS n_docs,
       |    CAST(SUM(ntok) AS BIGINT) AS sum_tokens,
       |    CAST(MIN(ntok) AS BIGINT) AS min_tokens,
       |    CAST(quantile_cont(ntok, 0.25) AS DOUBLE) AS p25_tokens,
       |    CAST(quantile_cont(ntok, 0.5) AS DOUBLE) AS p50_tokens,
       |    CAST(quantile_cont(ntok, 0.75) AS DOUBLE) AS p75_tokens,
       |    CAST(MAX(ntok) AS BIGINT) AS max_tokens,
       |    CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
       |    CAST((SUM(n_chars) * 1000) // SUM(ntok) AS BIGINT) AS chars_per_token_ppk
       |  FROM t GROUP BY source)
       |SELECT card.source, card.n_docs, card.sum_tokens, card.min_tokens,
       |       card.p25_tokens, card.p50_tokens, card.p75_tokens,
       |       card.max_tokens, card.n_langs, card.chars_per_token_ppk,
       |       summ.n_components, summ.n_clustered_docs, summ.max_members
       |FROM card CROSS JOIN summ ORDER BY card.source""".stripMargin)

  /** q236: the CLUSTER-FAMILY RELEASE (VERDICT r18 next #4) — q221/q222
    * served through ONE durable name instead of two parallel pins: the
    * cluster store ingests the four doc_id epochs (state + kind-6/7
    * metadata + card sidecar, the q203 path) with BOTH tables'
    * compaction policies forced hot, and after epoch 1 a single
    * [[graft.sources.ReleaseCatalog]] label pins the state AND card
    * snapshots that shipped together — the c92f738 spec's multi-table
    * single-store shape, now oracle-gated. Two further epochs then land,
    * every one tripping a policy compaction whose vacuum reclaims the
    * release's unpinned neighbors on each table; serving resolves
    * "corpus-r1" via [[graft.sources.ReleaseCatalog.tableAt]] for BOTH
    * legs — the component labels (with the kind-5 mapping closure from
    * the same snapshot) and the dataset card — and the combined emission
    * must reproduce the monolithic two-epoch-prefix recomputation of
    * both. "Release k" is one name, one record, both tables.
    *
    * Scale posture: q221/q222's — the release costs the pinned
    * snapshots' bytes (the pin contract), snapshot reads scan the
    * historical versions' files plainly (audit path), the label resolve
    * is the mapping-closure fixpoint, the card is one hash aggregate. */
  val q236 = QueryDef(
    "q236_cluster_family_release",
    clusterReleaseOracleSql) { (s0, d) =>
    // epoch work is batch/candidate-bounded — run the build under the
    // streamed sinks' bounded replay width, volume-derived
    val inBytes = EventsOps.planBytes(Tables.documents(s0, d)
      .select("doc_id", "text", "source", "lang", "n_chars"))
    EventsOps.withReplayWidth(s0, inBytes / 4) { s =>
    val docs = Tables.documents(s, d)
      .select("doc_id", "text", "source", "lang", "n_chars")
    Epochs.scratch("graft-cluster-release", "graft-cluster-relcat") { roots =>
      val st = new graft.sources.TableStore(s, roots(0))
      val cat = new graft.sources.ReleaseCatalog(roots(1), s)
      Dedup.buildDedupState(st, docs.limit(0))
      st.create("card", cardRows(docs.limit(0)))
      val sl = Epochs.slice(docs, col("doc_id"), 4)
      Epochs.direct(sl) { (batch, e) =>
        // the ingestClusterEpochs shape with the release swapped in for
        // the two parallel pins, and BOTH tables' compaction forced hot
        Dedup.clusterIngestEpoch(st, meta = Some(clusterDocMeta))(batch, e)
        st.appendBatch("card", e, cardRows(batch))
        // the claim under gate is pin SURVIVAL: only the post-pin
        // epochs need their policy compactions (each one's vacuum
        // would reclaim the release's snapshots were they unpinned);
        // pre-pin compactions would prove nothing and double the cost
        if (e >= 2L) {
          Dedup.maybeAutoCompactClustered(s, st, "state",
            Seq("kind", "bkt", "doc_id"), Some(2))
          Dedup.maybeAutoCompactClustered(s, st, "card", Seq("doc_id"), Some(2))
        }
        // ONE durable record binds the snapshot PAIR that ships as
        // this corpus release — labels and card under one name
        if (e == 1L) cat.pin("corpus-r1", Seq((st, "state"), (st, "card")))
      }
      if (sl.epochs == 0) cat.pin("corpus-r1", Seq((st, "state"), (st, "card")))
      // serving reads the release's store-wide snapshots — full-volume width
      EventsOps.serveWidth(s, inBytes)
      val labels = Dedup.clusterLabelsFrom(cat.tableAt("corpus-r1", "state"))
      val summ = labels.groupBy("component").agg(count(lit(1)).as("m"))
        .agg(count(lit(1)).as("n_components"),
          coalesce(sum(col("m")), lit(0L)).as("n_clustered_docs"),
          max(col("m")).as("max_members"))
      val card = CorpusOps.datasetCard(
        cat.tableAt("corpus-r1", "card")
          .select("source", "lang", "n_chars", "ntok"))
      // pinned frame: the store roots are deleted when this returns
      Dedup.pin(card.crossJoin(broadcast(summ)).orderBy("source"))
    }
    }
  }

  val all: Seq[QueryDef] =
    Seq(q71, q131, q156, q181, q203, q204, q205, q214, q220, q221, q222,
      q224, q225, q236)
}
