package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Duplicate clustering — the step AFTER pairwise near-dup detection: fold
  * the pair list into connected components so each duplicate cluster keeps
  * one canonical representative. Implemented as iterative min-label
  * propagation (each node repeatedly adopts the minimum label among itself
  * and its neighbors) — a driver-side loop over Catalyst plans, converging
  * in O(component diameter) rounds.
  *
  * Scale notes: each round is one join + one aggregation, both keyed by
  * node id — the shuffle carries (node, label) longs. Labels persist
  * per round and the previous round unpersists (lineage would otherwise
  * grow by two stages per round; at deep diameters a checkpoint every ~10
  * rounds truncates it). Dup graphs are overwhelmingly tiny cliques —
  * diameter 1-2, so 2-3 rounds; the large-star/small-star variant bounds
  * pathological chains at web scale with the same per-round plan shape.
  */
object DupClusters {

  /** Connected components of an undirected edge list via min-label
    * propagation. `nodes`: (id); `edges`: (src, dst). Returns (id, component)
    * where component = min node id reachable.
    *
    * O(diameter) rounds — the right tool for dup graphs (tiny cliques,
    * diameter 1-2). For pathological chain-shaped graphs use
    * [[connectedComponentsStar]] (O(log n) rounds). */
  def connectedComponents(nodes: DataFrame, edges: DataFrame,
                          maxRounds: Int = 20): DataFrame = {
    val (labels, _, converged) = minLabelCC(nodes, edges, maxRounds)
    // The round cap is a guard, not an answer: labels at the cap are WRONG
    // (the global minimum hasn't reached the far end of a > maxRounds
    // diameter), and returning them silently is how an incremental-repair
    // batch that chains many standing components would corrupt the
    // labeling. Fall back to star contraction — but SEEDED: the capped
    // labels are a sound refinement (every node's label is a node of its
    // own component, and each component's min node keeps its own label —
    // propagation only ever adopts SMALLER labels), so contracting each
    // edge (u,v) → (lbl(u), lbl(v)) preserves component structure exactly
    // while shrinking the graph by everything the paid rounds already
    // merged. Star contraction runs on the contracted graph (O(log n)
    // rounds on any shape), and the final label composes back through the
    // partial labels; min-over-component survives contraction because the
    // true min node is always its own contracted vertex.
    if (converged) labels
    else {
      // no second persist: `labels` is ALREADY persisted (minLabelCC keeps
      // it so — often localCheckpoint-backed), and the rename is a pure
      // projection over it; caching the projection too would hold two full
      // copies of the |V|-row label frame until the runner's clearCache
      val part = labels.withColumnRenamed("component", "plbl")
      val cNodes = part.select(col("plbl").as("id")).distinct()
      val cEdges = edges
        .join(part.select(col("id").as("src"), col("plbl").as("csrc")), "src")
        .join(part.select(col("id").as("dst"), col("plbl").as("cdst")), "dst")
        .select(col("csrc").as("src"), col("cdst").as("dst"))
        .filter(col("src") =!= col("dst"))
        .distinct()
      val star = connectedComponentsStar(cNodes, cEdges)._1
      // part stays persisted until the caller materializes the composed
      // result (released by the runner's clearCache, the repo-wide
      // per-query persist convention)
      part.join(star.withColumnRenamed("id", "plbl"), "plbl")
        .select(col("id"), col("component"))
    }
  }

  /** Returns (labels, rounds, converged). `converged = false` means the
    * round cap was hit while labels were still changing — the labels are
    * NOT a valid componentization, but they ARE a valid refinement (each
    * label is a member of its node's component; each component's min node
    * labels itself), so [[connectedComponents]] uses them to contract the
    * graph before its star-contraction fallback. They stay persisted in
    * both outcomes; the runner's clearCache releases them. */
  private[operators] def minLabelCC(
      nodes: DataFrame, edges: DataFrame, maxRounds: Int,
      checkpointEvery: Int = 5): (DataFrame, Int, Boolean) = {
    // symmetrize once; edges both ways so one join propagates both directions
    val sym = edges.select(col("src"), col("dst"))
      .unionByName(edges.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    var labels = nodes.select(col("id"), col("id").as("lbl"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    var changed = 1L
    var round = 0
    // Materialize the corpus-derived edge set under the AMBIENT config
    // (AQE on — the callers' pair derivations are corpus-scale joins),
    // then iterate STATICALLY (SparkSupport.withoutAqe): per-round state
    // is (long, long) label rows with hub fan-in absorbed map-side by the
    // min aggregate, so AQE's per-exchange job materialization is pure
    // scheduler floor on the loop (r9 verdict: d218 at 75 jobs).
    val symCnt = sym.count()
    graft.SparkSupport.withoutAqe(sym.sparkSession) {
    // a small edge set broadcasts against the |V|-row label table — the
    // dup-graph shape (d57: star edges over a corpus of mostly-singleton
    // docs); the driver-known count makes AQE's broadcast decision
    // statically. Above the ceiling both sides shuffle — correct at scale.
    val symJ =
      if (symCnt <= 300000L) broadcast(sym) else sym
    while (changed > 0 && round < maxRounds) {
      // neighbor labels: for edge (src→dst), dst receives src's current label
      val fromNeighbors = symJ.join(labels, symJ("src") === labels("id"))
        .select(col("dst").as("id"), col("lbl"))
      var next = labels.unionByName(fromNeighbors)
        .groupBy("id").agg(min(col("lbl")).as("lbl"))
      // lineage hygiene: each round's plan references the previous round
      // TWICE (the union branch and the neighbor join), so the LOGICAL plan
      // doubles per round — persist caches execution, not the tree, and by
      // ~2^10 nodes plan rendering/optimization dominates or OOMs at deep
      // diameters. localCheckpoint every ~5 rounds truncates lineage to the
      // materialized blocks (executor-local — on a cluster, pair with
      // reliable checkpointing if executor loss must be recoverable
      // mid-computation).
      // LAZY checkpoint: the convergence count below is the single action
      // that materializes the round (eager would schedule a second,
      // floor-priced job per checkpoint round). A lazy-marked round that
      // sees no action of its own (round 0) materializes inside the next
      // round's action — its lineage only runs through persist/plain-DF
      // ancestors at that point, so nothing it needs has been dropped.
      if ((round + 1) % checkpointEvery == 0) next = next.localCheckpoint(false)
      else next = next.persist(StorageLevel.MEMORY_AND_DISK)
      // round 0 always changes when any edge exists (a non-rep node adopts
      // a smaller neighbor label), so its convergence action is skipped —
      // on the star-shaped dup graphs d57 feeds (converge in round 0,
      // detected in round 1) this halves the driver actions per run
      changed =
        if (round == 0) 1L
        else next.join(labels.withColumnRenamed("lbl", "prev"), "id")
          .filter(col("lbl") =!= col("prev")).count()
      labels.unpersist()
      labels = next
      round += 1
    }
    } // end withoutAqe
    sym.unpersist()
    val converged = changed == 0
    // unconverged labels stay persisted too: the fallback contracts the
    // graph through them, and the final round may be localCheckpoint-backed
    // (unpersist would drop the only copy — truncated lineage can't
    // recompute)
    (labels.withColumnRenamed("lbl", "component"), round, converged)
  }

  /** Connected components via alternating large-star/small-star contraction
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC'14) — converges in O(log n) rounds on ANY graph shape, including
    * the long-chain pathologies where min-label propagation needs
    * O(diameter) rounds. Same contract as [[connectedComponents]]; returns
    * the round count for convergence tests.
    *
    * Per round: large-star hangs every strictly-larger neighbor of u onto
    * min(N(u) ∪ {u}); small-star re-hangs the not-larger neighborhood the
    * same way. Both are one groupBy + one join keyed by node id, and the
    * edge set only ever shrinks toward the component stars — shuffle rows
    * are (long, long) pairs throughout. */
  def connectedComponentsStar(nodes: DataFrame, edges: DataFrame,
                              maxRounds: Int = 30): (DataFrame, Int) = {
    // the per-node-min side broadcasts when the CURRENT edge set is small
    // (|m| ≤ 2·|e|, and the set only shrinks) — the driver-known round
    // count makes AQE's broadcast decision statically inside the AQE-off
    // loop below; above the ceiling both sides shuffle, the 100 TB shape
    def maybeBcast(df: DataFrame, edgeCnt: Long): DataFrame =
      if (edgeCnt >= 0 && edgeCnt <= 300000L) broadcast(df) else df
    def largeStar(e: DataFrame, edgeCnt: Long): DataFrame = {
      val nbrs = e.unionByName(
        e.select(col("v").as("u"), col("u").as("v")))
      val m = nbrs.groupBy("u")
        .agg(min(least(col("v"), col("u"))).as("m"))
      nbrs.join(maybeBcast(m, edgeCnt), "u")
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .filter(col("u") =!= col("v"))
        .distinct()
    }
    def smallStar(e: DataFrame, edgeCnt: Long): DataFrame = {
      val dir = e.select(greatest(col("u"), col("v")).as("u"),
        least(col("u"), col("v")).as("v"))
      val m = dir.groupBy("u").agg(min(col("v")).as("m"))
      val hung = dir.join(maybeBcast(m, edgeCnt), "u")
        .select(col("v").as("u"), col("m").as("v"))
        .unionByName(m.select(col("u"), col("m").as("v")))
      hung.filter(col("u") =!= col("v")).distinct()
    }
    var e = edges.select(col("src").as("u"), col("dst").as("v"))
      .filter(col("u") =!= col("v")).distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    var round = 0
    // count, not isEmpty: the count fully materializes the corpus-derived
    // edge set under the AMBIENT config (AQE on) so the static loop below
    // iterates over cached blocks only (the minLabelCC discipline)
    var edgeCnt = e.count()
    var done = edgeCnt == 0
    var prev = (-1L, "")
    graft.SparkSupport.withoutAqe(e.sparkSession) {
    while (!done && round < maxRounds) {
      // localCheckpoint EVERY round: one star round references `e` ~12×
      // (unions + both join sides of both stars), so the LOGICAL plan grows
      // 12^rounds without truncation — persist caches execution but not the
      // plan tree, and the optimizer itself OOMs after ~5 rounds. LAZY
      // checkpoint: the plan truncates to a LogicalRDD leaf immediately,
      // and the fingerprint action below is the SINGLE job that both
      // materializes the round's blocks and reads the convergence scalar —
      // the old eager-then-fingerprint shape scheduled two driver actions
      // per round of near-pure job-launch floor (r9 verdict: d218 at 75
      // jobs). The old edge set is unpersisted only AFTER the fingerprint
      // materializes the new one (its lineage runs through the old,
      // truncated-lineage blocks — dropping them first would make the
      // recompute impossible, not just slow).
      val next = smallStar(largeStar(e, edgeCnt), edgeCnt)
        .localCheckpoint(false)
      // convergence = edge set fixed point; (count, order-free hash-sum) is
      // an exact set fingerprint up to xxhash64 collision-sums — one cheap
      // action per round instead of an EXCEPT join. DECIMAL accumulation:
      // a long sum of ±2^63 hashes overflows (ANSI mode throws)
      val fp = next.agg(count(lit(1)),
          sum(xxhash64(col("u"), col("v")).cast("decimal(38,0)")))
        .head()
      val cur = (fp.getLong(0), String.valueOf(fp.get(1)))
      e.unpersist()
      e = next
      edgeCnt = cur._1 // next round's broadcast decision
      done = cur == prev
      prev = cur
      round += 1
    }
    } // end withoutAqe
    // O(log n) rounds cover any graph that fits in memory many times over
    // (30 rounds ≳ 2^30 nodes), so hitting the cap means a bug, not a big
    // graph — fail loud rather than return a non-fixed-point forest.
    if (!done)
      throw new IllegalStateException(
        s"connectedComponentsStar: no fixed point after $maxRounds rounds")
    // fixed point is a forest of stars: every non-root points at its
    // component minimum; roots (and isolated nodes) label themselves
    val lbl = e.select(greatest(col("u"), col("v")).as("id"),
        least(col("u"), col("v")).as("m"))
      .groupBy("id").agg(min(col("m")).as("m"))
    val out = nodes.select(col("id"))
      .join(lbl, Seq("id"), "left")
      .select(col("id"), coalesce(col("m"), col("id")).as("component"))
    (out, round)
  }

  /** d57: cluster the exact-dup corpus (documents ∪ planted copies, d29's
    * corpus) by content hash INTO components, emitting each doc with its
    * canonical (minimum) duplicate-cluster id and the cluster size. Pairs
    * come from the same content-hash grouping d29 uses; the component of a
    * doc with no duplicates is itself. */
  def d57DupComponents(s: SparkSession, dir: String): DataFrame = {
    // the SAME planted corpus d29 dedups (one definition — a drifted copy
    // would silently cluster a different corpus than detection scans)
    val corpus = Dedup.corpusWithCopies(s, dir).select("doc_id", "text")
    // pair each doc with the minimum doc_id sharing its content hash —
    // a star edge list (no C(n,2) explosion even for giant clusters)
    val hashed = corpus.select(col("doc_id"), md5(col("text")).as("h"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val reps = hashed.groupBy("h").agg(min(col("doc_id")).as("rep"))
    val edges = hashed.join(reps, "h")
      .filter(col("doc_id") =!= col("rep"))
      .select(col("rep").as("src"), col("doc_id").as("dst"))
    val nodes = hashed.select(col("doc_id").as("id"))
    val labels = connectedComponents(nodes, edges)
    // cluster_size via a count join: a giant duplicate cluster stays
    // row-shaped end to end (a collect_list of members would hold the
    // whole cluster in one aggregation row before re-exploding it)
    labels.join(
        labels.groupBy("component").agg(count(lit(1)).as("cluster_size")),
        "component")
      .select(col("id").as("doc_id"), col("component"), col("cluster_size"))
      .orderBy("doc_id")
  }

  val d57Sql: String =
    s"""WITH ${Dedup.corpusSql},
      |hashed AS (SELECT doc_id, md5(text) AS h FROM corpus),
      |comp AS (
      |  SELECT doc_id, MIN(doc_id) OVER (PARTITION BY h) AS component
      |  FROM hashed)
      |SELECT doc_id, component,
      |  COUNT(*) OVER (PARTITION BY component) AS cluster_size
      |FROM comp ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- d218

  private[graft] val CcLabelsLayout = graft.SparkSupport.Layout("cc_labels", 1)
  /** d218: INCREMENTAL component maintenance — the clustering half of the
    * d135/d142/d185 incremental-dedup story: the standing corpus's
    * duplicate components are a PERSISTED labeling; when a batch arrives,
    * its near-dup pairs can join existing clusters, bridge two clusters
    * into one, or form new ones — and the labeling must be repaired
    * WITHOUT re-clustering history.
    *
    * Algorithm: (1) new pairs = verified pairs with ≥1 batch endpoint
    * (from the persisted [[Dedup.dupPairs]] artifact — the minhash chain
    * never re-runs); (2) affected components = those containing a standing
    * endpoint of a new pair (a standing node with its FIRST pair labels
    * itself — the left-join singleton case); (3) each affected component
    * collapses to a STAR (member → its label; the label is the min member,
    * so it is itself a node), and CC re-runs on stars ∪ new pairs ∪ batch
    * nodes only; (4) unaffected labels pass through untouched. Min-label
    * CC gives the same component id (global min doc_id) as a from-scratch
    * run — which is exactly what the oracle computes, full recursive CC
    * over the union pair graph.
    *
    * Scale shape: iterative state is |affected members + batch| — the
    * sliver of the corpus the batch actually touches — versus d57's
    * full-graph rounds; history is read only through the label table
    * (probe-never-rescan, the d185 premise applied to cluster state). The
    * output's `src` column marks each row batch / affected / kept, so the
    * gate verifies the REPAIR BOUNDARY, not just the labels. */
  def d218IncrementalComponents(s: SparkSession, dir: String): DataFrame = {
    val pairs = Dedup.dupPairs(s, dir).select("id1", "id2")
      .persist(StorageLevel.MEMORY_AND_DISK)
    val standingPairs = pairs
      .filter(col("id1") % 7 =!= 0 && col("id2") % 7 =!= 0)
    // the standing labeling is a persisted corpus artifact, like the band
    // index it derives from
    val path = graft.SparkSupport.layoutArtifact(CcLabelsLayout, dir) { p =>
      val ends = standingPairs.select(col("id1").as("id"))
        .unionByName(standingPairs.select(col("id2").as("id"))).distinct()
      connectedComponents(ends,
          standingPairs.select(col("id1").as("src"), col("id2").as("dst")))
        .write.mode("overwrite").parquet(p)
    }
    val labels = Tables.parquet(s, path)
    val newPairs = pairs
      .filter(col("id1") % 7 === 0 || col("id2") % 7 === 0)
    incrementalRepair(labels, newPairs, batchPred = "id % 7 = 0")
      .orderBy("doc_id")
  }

  /** The d218 repair core over an existing labeling and a batch's new pair
    * list — exposed for property tests (bridge merges, join-existing,
    * fresh cliques, first-pair singletons all must equal a from-scratch
    * CC). `batchPred` is a SQL boolean over `id` deciding batch
    * membership. Returns (doc_id, component, src ∈ batch/affected/kept). */
  private[operators] def incrementalRepair(
      labelsIn: DataFrame, newPairsIn: DataFrame,
      batchPred: String): DataFrame = {
    val labels = labelsIn
      .persist(StorageLevel.MEMORY_AND_DISK) // feeds touched, members, kept
    val newPairs = newPairsIn.select("id1", "id2")
      .persist(StorageLevel.MEMORY_AND_DISK)
    val ends = newPairs.select(col("id1").as("id"))
      .unionByName(newPairs.select(col("id2").as("id")))
    // r16-opt (guide §2.4/§5): `touched` feeds affected AND members, and
    // `affected` feeds members AND the final kept anti-join — both were
    // lazy, so the kept branch re-derived the whole
    // ends→distinct→label-join→distinct chain at the terminal action (and
    // AQE scheduled each re-derived exchange as its own job). touched
    // persists (it is |new-pair endpoints| rows); affected — component ids
    // only, strictly smaller — pins as ONE eager checkpoint that
    // materializes the chain once for every consumer.
    val touched = ends.filter(expr(s"NOT ($batchPred)")).distinct()
      .join(labels, Seq("id"), "left")
      .selectExpr("id", "coalesce(component, id) AS component")
      .persist(StorageLevel.MEMORY_AND_DISK)
    val affected = touched.select("component").distinct()
      .localCheckpoint(true)
    val members = labels.join(affected, "component")
      .select("id", "component")
      .unionByName(touched).distinct()
    val starEdges = members.filter(col("id") =!= col("component"))
      .select(col("component").as("src"), col("id").as("dst"))
    val batchNodes = ends.filter(expr(batchPred)).distinct()
    val subNodes = members.select("id").unionByName(batchNodes).distinct()
    val subEdges = starEdges.unionByName(
      newPairs.select(col("id1").as("src"), col("id2").as("dst")))
    val repaired = connectedComponents(subNodes, subEdges)
    val kept = labels.join(affected, Seq("component"), "left_anti")
      .selectExpr("id AS doc_id", "component", "'kept' AS src")
    val re = repaired.selectExpr("id AS doc_id", "component",
      s"CASE WHEN $batchPred THEN 'batch' ELSE 'affected' END AS src")
    kept.unionByName(re)
  }

  val d218Sql: String =
    s"""WITH RECURSIVE ${Dedup.minhashPairCtes},
       |pairs AS (
       |  SELECT id1, id2
       |  FROM cand LEFT JOIN common USING (id1, id2)
       |  JOIN n n1 ON id1 = n1.doc_id JOIN n n2 ON id2 = n2.doc_id
       |  WHERE round(coalesce(common, 0) * 1.0
       |          / (n1.ns + n2.ns - coalesce(common, 0)), 6) >= 0.2),
       |edges AS (SELECT id1 AS src, id2 AS dst FROM pairs
       |          UNION ALL SELECT id2 AS src, id1 AS dst FROM pairs),
       |vs AS (SELECT DISTINCT src AS id FROM edges),
       |reach AS (
       |  SELECT id, id AS l FROM vs
       |  UNION
       |  SELECT e.dst AS id, r.l FROM reach r JOIN edges e ON e.src = r.id),
       |comp AS (SELECT id, min(l) AS component FROM reach GROUP BY id),
       |hasb AS (SELECT component,
       |    max(CASE WHEN id % 7 = 0 THEN 1 ELSE 0 END) AS hb
       |  FROM comp GROUP BY component)
       |SELECT comp.id AS doc_id, comp.component,
       |  CASE WHEN comp.id % 7 = 0 THEN 'batch'
       |       WHEN hb = 1 THEN 'affected'
       |       ELSE 'kept' END AS src
       |FROM comp JOIN hasb USING (component)
       |ORDER BY doc_id""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "d57_dup_components" -> d57DupComponents,
    "d218_incremental_cc" -> d218IncrementalComponents)

  val oracle: Map[String, String] = Map(
    "d57_dup_components" -> d57Sql,
    "d218_incremental_cc" -> d218Sql)
}
