package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Similarity-search evaluation and compression: the recall measurement
  * that decides whether an ANN index is good enough to replace exact
  * search, and product quantization — the memory-compression step that
  * makes billion-vector indexes (IVF-PQ) fit in RAM.
  *
  * Both follow the package's determinism discipline: codebooks derive from
  * floor-scale quantized means ([[graft.functions.OracleSafe]]), distances
  * are strict left folds, errors accumulate as exact scaled integers.
  */
object Similarity2 {

  // ---------------------------------------------------------------- s163

  /** s163: ANN recall@3 — per probe query, how many of the exact top-3
    * neighbors (s38's brute-force truth) the IVF index (s39, 2-probe)
    * actually returned. The acceptance metric for index tuning: nprobe and
    * cell count trade recall against scan fraction, and this query is the
    * measurement that trade reads (the d162 premise applied to vectors).
    *
    * Scale shape: composes two verified kernels; the eval join and the
    * per-query count run over 16×3 rows — nothing here scales with the
    * corpus. */
  /** THE recall@3 kernel, shared by every ANN calibration query (s163
    * coarse-stage, s256 end-to-end): one definition keeps the numbers
    * comparable — a tweak to k or the null-hit handling in one copy would
    * silently make the stage-loss and product-loss metrics incomparable. */
  private def recallAt3(truth: DataFrame, got: DataFrame): DataFrame =
    truth.join(got.withColumn("hit", lit(1)), Seq("qid", "nid"), "left")
      .groupBy("qid")
      .agg(sum(coalesce(col("hit"), lit(0))).cast("int").as("n_hit"))
      .selectExpr("qid", "n_hit", "round(n_hit / 3.0D, 6) AS recall_at_3")
      .orderBy("qid")

  def s163AnnRecall(s: SparkSession, dir: String): DataFrame =
    recallAt3(
      Similarity.s38AnnBrute(s, dir).filter(col("rank") <= 3)
        .select("qid", "nid"),
      Similarity.s39AnnIvf(s, dir).select("qid", "nid"))

  val s163Sql: String =
    s"""WITH truth AS (
       |  SELECT qid, nid FROM (${Similarity.s38Sql}) WHERE rank <= 3),
       |got AS (SELECT qid, nid FROM (${Similarity.s39Sql})),
       |j AS (
       |  SELECT t.qid, CASE WHEN g.nid IS NULL THEN 0 ELSE 1 END AS hit
       |  FROM truth t LEFT JOIN got g ON g.qid = t.qid AND g.nid = t.nid)
       |SELECT qid, CAST(sum(hit) AS INTEGER) AS n_hit,
       |  round(CAST(sum(hit) AS INTEGER) / 3.0, 6) AS recall_at_3
       |FROM j GROUP BY qid ORDER BY qid""".stripMargin

  // ---------------------------------------------------------------- s166

  /** s166: product quantization — split each 64-dim vector into 8
    * contiguous 8-dim subvectors; per subspace, a 4-codeword codebook
    * (codewords = floor-scale quantized per-dim means over the subspace's
    * sign-cell partition — deterministic stand-ins for trained k-means
    * codewords, the s39/s132 convention); assign each subvector to its
    * nearest codeword by L2² (strict left-fold, ties to the smaller code).
    * Output per vector: the 8-code string (the compressed representation —
    * 8 bytes standing in for 256) and the total reconstruction error.
    *
    * Scale shape: the codebook aggregate is fixed-size (8 subspaces × 4
    * cells × 8 dims) with map-side partial aggregation; assignment
    * broadcasts the 32-codeword table and the corpus never shuffles until
    * the per-vector regroup — the exact IVF-PQ build dataflow. Error sums
    * accumulate as exact scaled longs (order-independent). */
  /** THE subvector layout — 8 contiguous 8-dim slices — as one definition
    * for corpus AND query sides: a query split that drifted from the
    * layout the persisted codebook/postings were built with would produce
    * a phantom gate mismatch instead of being structurally impossible. */
  private[graft] def pqSubOf(vecs: DataFrame): DataFrame = vecs
    .selectExpr("vec_id",
      """explode(transform(sequence(0, 7), m ->
        |  struct(m AS m, slice(v, m * 8 + 1, 8) AS sv))) AS e""".stripMargin)
    .selectExpr("vec_id", "e.m AS m", "e.sv AS sv")

  /** The corpus split into 8 contiguous 8-dim subvectors (vec_id, m, sv). */
  private def pqSub(s: SparkSession, dir: String): DataFrame =
    pqSubOf(Similarity.vecs(s, dir))

  /** Per-subspace 4-codeword codebook: floor-scale quantized per-dim means
    * over the subspace's sign-cell partition (m, code, cw). */
  private[graft] def pqCodebook(sub: DataFrame): DataFrame = sub
    .selectExpr("m",
      "2 * CAST(element_at(sv, 1) >= 0 AS INT) + " +
        "CAST(element_at(sv, 2) >= 0 AS INT) AS code",
      "posexplode(sv) AS (p, x)")
    .groupBy("m", "code", "p")
    .agg(graft.functions.OracleSafe.qmean6(col("x")).as("c"))
    .groupBy("m", "code")
    .agg(expr("transform(sort_array(collect_list(struct(p, c))), e -> e.c)")
      .as("cw"))

  /** Nearest-codeword assignment per (vec_id, m): `b.code` is the code,
    * `b.d2` the subspace reconstruction error. */
  private def pqAssign(sub: DataFrame, cb: DataFrame): DataFrame = {
    sub.as("s").join(broadcast(cb).as("b"), col("s.m") === col("b.m"))
      .selectExpr("vec_id", "s.m AS m", "code",
        "l2_sq(sv, cw) AS d2")
      .groupBy("vec_id", "m")
      .agg(min(struct(col("d2"), col("code"))).as("b"))
  }

  def s166PqCodes(s: SparkSession, dir: String): DataFrame = {
    // feeds the codebook aggregate AND the assignment join — one scan
    val sub = pqSub(s, dir).persist(StorageLevel.MEMORY_AND_DISK)
    pqAssign(sub, pqCodebook(sub))
      .groupBy("vec_id")
      .agg(
        expr("""concat_ws('-', transform(
          |  array_sort(collect_list(struct(m, b.code AS code))),
          |  e -> CAST(e.code AS STRING)))""".stripMargin).as("codes"),
        graft.functions.OracleSafe.qsum6(col("b.d2")).as("qerr"))
      .orderBy("vec_id")
  }

  /** The PQ CTE chain (subvectors → codebook → assignment), shared by the
    * s166 code dump and s173's ADC search oracle — parameterized by the
    * codebook TRAINING predicate (the s206SqlExcluding convention): the
    * full-corpus oracles train on `TRUE`, s319 trains on history only.
    * Assignment (`d`/`best`) always covers every vector — encoding under
    * a frozen codebook is exactly "assign rows the training never saw". */
  private def pqCtesTrainedOn(trainPred: String): String =
    s"""e AS (${Similarity.vecsDuck}),
       |sub AS (
       |  SELECT vec_id, m, v[m * 8 + 1 : m * 8 + 8] AS sv
       |  FROM e, (SELECT unnest(range(0, 8)) AS m) ms),
       |cbdim AS (
       |  SELECT m, 2 * CAST(sv[1] >= 0 AS INTEGER)
       |         + CAST(sv[2] >= 0 AS INTEGER) AS code, p,
       |    CAST(sum(CAST(floor(sv[p] * 1e6 + 0.5) AS BIGINT)) AS DOUBLE)
       |      / count(*) / 1e6 AS c
       |  FROM sub, (SELECT unnest(range(1, 9)) AS p) ps
       |  WHERE $trainPred
       |  GROUP BY 1, 2, 3),
       |cb AS (SELECT m, code, list(c ORDER BY p) AS cw
       |       FROM cbdim GROUP BY 1, 2),
       |d AS (
       |  SELECT vec_id, s.m, b.code,
       |    list_reduce(list_prepend(0.0, list_transform(range(1, 9),
       |      j -> (s.sv[j] - b.cw[j]) * (s.sv[j] - b.cw[j]))),
       |      (x, y) -> x + y) AS d2
       |  FROM sub s JOIN cb b ON s.m = b.m),
       |best AS (
       |  SELECT vec_id, m, code, d2, row_number() OVER (
       |    PARTITION BY vec_id, m ORDER BY d2, code) AS rn
       |  FROM d)""".stripMargin

  private val pqCtes: String = pqCtesTrainedOn("TRUE")

  val s166Sql: String =
    s"""WITH $pqCtes
       |SELECT vec_id,
       |  string_agg(CAST(code AS VARCHAR), '-' ORDER BY m) AS codes,
       |  CAST(sum(CAST(floor(d2 * 1e6 + 0.5) AS BIGINT)) AS DOUBLE) / 1e6
       |    AS qerr
       |FROM best WHERE rn = 1 GROUP BY vec_id ORDER BY vec_id""".stripMargin

  // ---------------------------------------------------------------- s173

  /** s173: PQ asymmetric distance computation (ADC) — the IVF-PQ QUERY
    * path: each probe query precomputes a (subspace × codeword) distance
    * table against the s166 codebooks; a corpus vector's approximate
    * distance is then 8 TABLE LOOKUPS summed over its stored codes —
    * no float arithmetic against corpus data at all. Top-3 per query by
    * ADC distance. This is the step that makes billion-vector search
    * feasible: the scan touches 8 bytes per vector, not 256.
    *
    * Scale shape: the distance table is queries × 8 × 4 = 512 rows —
    * broadcast; the corpus side is the stored code table (8 small ints
    * per vector), scanned once, joined on (m, code), and aggregated by
    * (query, vector) with map-side partials. Per-lookup distances
    * quantize to scaled longs, so ADC sums are exact integers. */
  def s173PqAdcSearch(s: SparkSession, dir: String): DataFrame = {
    val sub = pqSub(s, dir).persist(StorageLevel.MEMORY_AND_DISK)
    val cb = pqCodebook(sub)
    val codes = pqAssign(sub, cb)
      .selectExpr("vec_id", "m", "b.code AS code")
    val dt = sub.filter(col("vec_id") < 16)
      .selectExpr("vec_id AS qid", "m AS qm", "sv AS qsv")
      .join(broadcast(cb), col("qm") === col("m"))
      .selectExpr("qid", "m", "code",
        "CAST(floor(l2_sq(qsv, cw) * 1e6 + 0.5) AS BIGINT) AS q6")
    codes.join(broadcast(dt), Seq("m", "code"))
      .filter(col("vec_id") =!= col("qid"))
      .groupBy("qid", "vec_id")
      .agg(sum(col("q6")).as("s6"))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("qid").orderBy(col("s6"), col("vec_id"))))
      .filter(col("rank") <= 3)
      .selectExpr("qid", "rank", "vec_id AS nid",
        "round(CAST(s6 AS DOUBLE) / 1e6, 6) AS adc")
      .orderBy("qid", "rank")
  }

  val s173Sql: String =
    s"""WITH $pqCtes,
       |codes AS (SELECT vec_id, m, code FROM best WHERE rn = 1),
       |dt AS (
       |  SELECT s.vec_id AS qid, b.m, b.code,
       |    CAST(floor(list_reduce(list_prepend(0.0, list_transform(range(1, 9),
       |      j -> (s.sv[j] - b.cw[j]) * (s.sv[j] - b.cw[j]))),
       |      (x, y) -> x + y) * 1e6 + 0.5) AS BIGINT) AS q6
       |  FROM sub s JOIN cb b ON s.m = b.m
       |  WHERE s.vec_id < 16),
       |adc AS (
       |  SELECT dt.qid, c.vec_id, CAST(sum(dt.q6) AS BIGINT) AS s6
       |  FROM codes c JOIN dt ON dt.m = c.m AND dt.code = c.code
       |  WHERE c.vec_id <> dt.qid
       |  GROUP BY 1, 2),
       |ranked AS (
       |  SELECT qid, vec_id, s6, CAST(row_number() OVER (
       |    PARTITION BY qid ORDER BY s6, vec_id) AS INTEGER) AS rank
       |  FROM adc)
       |SELECT qid, rank, vec_id AS nid,
       |  round(CAST(s6 AS DOUBLE) / 1e6, 6) AS adc
       |FROM ranked WHERE rank <= 3 ORDER BY qid, rank""".stripMargin

  // ---------------------------------------------------------------- s196

  /** s196: hybrid retrieval with reciprocal-rank fusion — query-by-example
    * on document 0, fusing a LEXICAL leg (Okapi BM25 over the 8 RAREST
    * terms of the query doc — lowest document frequency, the
    * keyword-extraction step of a real hybrid searcher) with a SEMANTIC leg
    * (cosine against the query doc's embedding; vec_id is doc-aligned in
    * this corpus). Fusion is standard RRF over the two RANKED LISTS
    * (Cormack et al. fuse retrieved lists, not corpus-wide scores): each
    * leg retrieves its top-101, a doc contributes 1/(60 + rank_leg) from
    * each list it appears in and 0 from a list it misses — the score-free
    * combiner RAG stacks use because BM25 and cosine scales don't mix.
    *
    * Scale shape: each leg is a `orderBy().limit(101)` —
    * TakeOrderedAndProject keeps a 101-row heap per partition and merges
    * 101·parts rows on the driver — and every Window in the plan runs
    * over a ≤101-row shortlist or the ≤202-row fused union, never the
    * corpus (the q242 discipline; an unpartitioned corpus-scale
    * row_number here was the repo's last ranking scale-killer —
    * plan-asserted in Similarity2Spec). The lexical leg touches only the
    * 8 query-term posting lists (inverted-index access, never the corpus
    * vocabulary); the semantic leg is one broadcast-query corpus scan.
    *
    * Semantics (intentional, since round 7): standard RRF over the two
    * per-leg top-[[RrfLegK]] retrieved LISTS — a doc contributes 1/(60+r)
    * only for legs whose shortlist it made; a doc in exactly one leg's
    * top-101 forfeits its (≥102-deep) rank contribution from the other
    * leg, which full-corpus RRF would have counted. This is the
    * list-fusion definition production retrievers use (fusion sees only
    * what each retriever returned) and the oracle implements the same
    * definition. One bound does carry over from full-corpus RRF: a doc
    * outside BOTH top-101s would score < 2/(60+101) = 2/161 < 1/80
    * there, while the sem-top-20 alone score ≥ 1/(60+20) = 1/80 under
    * either definition — so such a doc can never reach the top-20 and
    * the shortlists lose no top-20 CANDIDATE, only cross-leg score mass
    * for single-leg docs. Rank-within-shortlist equals global leg rank
    * (the limit preserves the leg's exact ordering), so every emitted
    * rank ≤ 101 is the true leg rank.
    *
    * Determinism: BM25 contributions quantize to DECIMAL(38,6) before the
    * per-doc sum (t151's rational-idf kernel verbatim); ranks are integers
    * with doc_id tie-breaks; the RRF sum is two IEEE divisions + one add
    * on identical bits. RRF ties (a lex/sem rank swap yields the exact
    * same double) break by doc_id in both engines. */
  def s196HybridRrf(s: SparkSession, dir: String): DataFrame =
    hybridRetrieval(s, dir)._3

  /** The shared hybrid-retrieval front-end: (persisted token explode,
    * 8-rarest-query-term table, fused RRF top-20). s196 emits the fused
    * list; s314's cross-encoder-style tier reranks it — one pipeline,
    * two gates, so the retrieve→fuse and rerank stages can never drift
    * onto different shortlist definitions. */
  private def hybridRetrieval(s: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    val toks = graft.Tables.documents(s, dir)
      .selectExpr("doc_id", "explode(split(lower(text), ' ')) AS t")
      .persist(StorageLevel.MEMORY_AND_DISK) // feeds postings, lengths, tf
    // (r15-opt A/B, negative: moving the d0 semi-join BEFORE the distinct
    // — per-occurrence rows of query-doc terms, then distinct — measured
    // SLOWER at sf0.1 (s196 2.25 → 2.79 s min): the query doc's terms
    // include the corpus's commonest words, so the "restricted" set is
    // most of the token table and the extra join pass costs more than the
    // narrower distinct saves. The global (doc, term) distinct stays.)
    val dt = toks.distinct()
    val d0 = dt.filter(col("doc_id") === 0).select("t")
    val dfq = dt.join(broadcast(d0), "t")
      .groupBy("t").agg(count(lit(1)).as("df"))
    // EAGER checkpoint of the 8-row query-term table: it feeds BOTH the
    // lexical leg here and s314's rerank features, and as a lazy subplan
    // it re-executed its tokenize→distinct→df→window chain once per
    // downstream action (r9: s314 at 44 scheduled jobs, floor-dominated).
    // Materializing 8 rows once turns every later reference into a
    // LogicalRDD leaf. This also materializes the persisted `toks` cache
    // as a side effect — work every caller needs anyway.
    val qt = dfq
      .withColumn("r", row_number().over(Window.orderBy(col("df"), col("t"))))
      .filter(col("r") <= 8).select("t", "df")
      .localCheckpoint(true)
    // r15-opt: token counts per doc come straight off the text via the
    // native space counter (len = spaces + 1 = size(split), exact — see
    // TextKernelExprsSpec) instead of a corpus-wide groupBy over the
    // exploded token rows: one exchange of 4M rows gone, map-only now.
    val lens = graft.Tables.documents(s, dir)
      .selectExpr("doc_id",
        "CAST(ascii_count(lower(text), 32, 32) + 1 AS BIGINT) AS len")
    val stats = lens.agg(count(lit(1)).as("n_docs"), sum(col("len")).as("tot"))
    val tf = toks.filter(col("doc_id") =!= 0)
      .join(broadcast(qt.select("t")), "t")
      .groupBy("doc_id", "t").agg(count(lit(1)).as("tf"))
    val lex = tf.join(broadcast(qt), "t")
      .join(lens, "doc_id")
      .crossJoin(broadcast(stats))
      .selectExpr("doc_id",
        """CAST(round(
          |  (n_docs - df + 0.5D) / (df + 0.5D) *
          |  tf * 2.2D / (tf + 1.2D * (0.25D + 0.75D * len
          |    / (CAST(tot AS DOUBLE) / n_docs))), 6)
          |AS DECIMAL(38,6)) AS c""".stripMargin)
      .groupBy("doc_id")
      .agg(sum(col("c")).as("sc"))
      .selectExpr("doc_id", "CAST(round(CAST(sc AS DOUBLE), 6) AS DOUBLE) AS bm25")
      // top-101 FIRST (TakeOrderedAndProject), window over the survivors:
      // rank-within-shortlist == global leg rank (same ordering)
      .orderBy(col("bm25").desc, col("doc_id")).limit(RrfLegK)
      .withColumn("lex_rank",
        row_number().over(Window.orderBy(col("bm25").desc, col("doc_id"))))
      .select("doc_id", "lex_rank")
    val all = Similarity.vecs(s, dir).persist(StorageLevel.MEMORY_AND_DISK)
    val sem = broadcast(all.filter(col("vec_id") === 0).select(col("v"))).as("q")
      .crossJoin(all.filter(col("vec_id") =!= 0).as("c"))
      .selectExpr("c.vec_id AS doc_id", "cosine_sim(q.v, c.v) AS cos")
      .orderBy(col("cos").desc, col("doc_id")).limit(RrfLegK)
      .withColumn("sem_rank",
        row_number().over(Window.orderBy(col("cos").desc, col("doc_id"))))
      .select("doc_id", "sem_rank")
    // fuse on the shortlist UNION (≤ 2·101 rows): full outer, a missing
    // leg contributes 0
    val fused = sem.join(lex, Seq("doc_id"), "full_outer")
      .selectExpr("doc_id", "lex_rank", "sem_rank",
        """round(coalesce(1.0D / (60 + lex_rank), 0D)
          |  + coalesce(1.0D / (60 + sem_rank), 0D), 6) AS rrf""".stripMargin)
      .withColumn("rank",
        row_number().over(Window.orderBy(col("rrf").desc, col("doc_id"))))
      .filter(col("rank") <= 20)
      .select("rank", "doc_id", "lex_rank", "sem_rank", "rrf")
      .orderBy("rank")
    (toks, qt, fused)
  }

  /** RRF retrieval depth per leg. Fusion is standard list-RRF over the
    * two top-[[RrfLegK]] lists (NOT full-corpus RRF — see
    * [[s196HybridRrf]]'s semantics note); 101 guarantees no top-20
    * candidate is missing from the union, though single-leg docs score
    * by the lists they made. Interpolated into [[s196Sql]] so the
    * oracle can never desynchronize from the Spark path. */
  private[operators] val RrfLegK = 101

  /** The 8-rarest-query-term selection CTE chain (tokenize → distinct
    * doc-term pairs → query-doc terms → document frequency → 8 rarest),
    * emitting CTEs `toks$sfx`, `dt$sfx`, `d0$sfx`, `dfq$sfx`,
    * `qt$sfx(t, df)`. ONE definition interpolated into both [[s196Sql]]
    * and [[s314Sql]] (ADVICE r8): the rerank tier's features must be
    * computed over exactly the terms that built the fused shortlist, and
    * a textual copy is how they drift. The suffix exists because s314Sql
    * embeds s196Sql as a subquery and DuckDB's binder rejects an outer
    * CTE shadowing the nested one's name — the CHAIN stays one
    * definition, only its names are parameterized. */
  private[operators] def termSelectCtes(sfx: String = ""): String =
    s"""toks$sfx AS MATERIALIZED (
       |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS t
       |  FROM documents),
       |dt$sfx AS MATERIALIZED (SELECT DISTINCT doc_id, t FROM toks$sfx),
       |d0$sfx AS (SELECT t FROM dt$sfx WHERE doc_id = 0),
       |dfq$sfx AS (SELECT t, count(*) AS df FROM dt$sfx
       |        WHERE t IN (SELECT t FROM d0$sfx) GROUP BY t),
       |qt$sfx AS (SELECT t, df FROM (
       |         SELECT t, df, row_number() OVER (ORDER BY df, t) AS r
       |         FROM dfq$sfx)
       |       WHERE r <= 8)""".stripMargin

  val s196Sql: String =
    s"""WITH ${termSelectCtes()},
       |lens AS (SELECT doc_id, count(*) AS len FROM toks GROUP BY doc_id),
       |stats AS (SELECT count(*) AS n_docs, sum(len) AS tot FROM lens),
       |tf AS (SELECT doc_id, t, count(*) AS tf FROM toks
       |       WHERE doc_id <> 0 AND t IN (SELECT t FROM qt)
       |       GROUP BY doc_id, t),
       |c AS (
       |  SELECT doc_id,
       |    CAST(round(
       |      (n_docs - df + 0.5e0) / (df + 0.5e0) *
       |      tf * 2.2e0 / (tf + 1.2e0 * (0.25e0 + 0.75e0 * len
       |        / (CAST(tot AS DOUBLE) / n_docs))), 6)
       |    AS DECIMAL(38,6)) AS c
       |  FROM tf JOIN qt USING (t) JOIN lens USING (doc_id) CROSS JOIN stats),
       |lex AS (SELECT doc_id, round(CAST(sum(c) AS DOUBLE), 6) AS bm25
       |        FROM c GROUP BY doc_id),
       |lexr AS (SELECT doc_id, lex_rank FROM (
       |           SELECT doc_id, CAST(row_number() OVER
       |             (ORDER BY bm25 DESC, doc_id) AS INTEGER) AS lex_rank
       |           FROM lex)
       |         WHERE lex_rank <= $RrfLegK),
       |e AS (${Similarity.vecsDuck}),
       |q AS (SELECT v FROM e WHERE vec_id = 0),
       |sem AS (SELECT c.vec_id AS doc_id, ${Similarity.cosDuck} AS cos
       |        FROM q, e c WHERE c.vec_id <> 0),
       |semr AS (SELECT doc_id, sem_rank FROM (
       |           SELECT doc_id, CAST(row_number() OVER
       |             (ORDER BY cos DESC, doc_id) AS INTEGER) AS sem_rank
       |           FROM sem)
       |         WHERE sem_rank <= $RrfLegK),
       |f AS (SELECT coalesce(s.doc_id, l.doc_id) AS doc_id, lex_rank, sem_rank,
       |        round(coalesce(1e0 / (60 + lex_rank), 0e0)
       |          + coalesce(1e0 / (60 + sem_rank), 0e0), 6) AS rrf
       |      FROM semr s FULL JOIN lexr l ON s.doc_id = l.doc_id),
       |r AS (SELECT CAST(row_number() OVER (ORDER BY rrf DESC, doc_id)
       |        AS INTEGER) AS rank, doc_id, lex_rank, sem_rank, rrf
       |      FROM f)
       |SELECT rank, doc_id, lex_rank, sem_rank, rrf
       |FROM r WHERE rank <= 20 ORDER BY rank""".stripMargin

  // ---------------------------------------------------------------- s197

  /** s197: hard-negative mining — for each anchor vector (vec_id < 25, a
    * contrastive training batch), the top-5 most-similar vectors with a
    * DIFFERENT label (the hard negatives a triplet/InfoNCE loss wants),
    * plus the hardest POSITIVE (max same-label cosine) and the margin
    * pos − neg per pair — negative margin rows are exactly the anchors
    * where a foreign vector sits closer than any same-class one, the
    * embedding-quality diagnostic that decides whether a corpus needs
    * re-embedding before semantic dedup (d33/d155 trust these distances).
    *
    * Scale shape: the anchor batch broadcasts (training batches are tiny
    * against the corpus); the corpus streams through ONE scan feeding both
    * the negative window and the positive max — no corpus self-join. The
    * per-anchor window is bounded by the corpus scan's row count per
    * anchor; at 100 TB the same shape runs per-shard with s48's TopKPerKey
    * bounded heap and a final k-way merge.
    *
    * Determinism: cosine is the strict left fold (bit-identical to the
    * oracle's list_reduce), max is order-independent, ranks tie-break on
    * nid, and all emitted floats round at 6. */
  def s197HardNegatives(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val all = Similarity.vecs(s, dir).persist(StorageLevel.MEMORY_AND_DISK)
    val anchors = all.filter(col("vec_id") < 25)
      .select(col("vec_id").as("aid"), col("label").as("albl"), col("v"))
    val scored = broadcast(anchors).as("q")
      .join(all.as("c"), col("c.vec_id") =!= col("aid"))
      .selectExpr("aid", "albl", "c.vec_id AS nid", "c.label AS nlbl",
        "cosine_sim(q.v, c.v) AS cos")
      .persist(StorageLevel.MEMORY_AND_DISK) // feeds negatives AND positives
    val negs = scored.filter(col("nlbl") =!= col("albl"))
      .withColumn("rank", row_number().over(
        Window.partitionBy("aid").orderBy(col("cos").desc, col("nid"))))
      .filter(col("rank") <= 5)
    val pos = scored.filter(col("nlbl") === col("albl"))
      .groupBy("aid").agg(max(col("cos")).as("pos_cos"))
    negs.join(broadcast(pos), Seq("aid"), "left") // |anchors| rows — broadcast, not SMJ
      .selectExpr("aid", "rank", "nid", "nlbl AS neg_label",
        "round(cos, 6) AS cos", "round(pos_cos, 6) AS pos_cos",
        "round(pos_cos - cos, 6) AS margin")
      .orderBy("aid", "rank")
  }

  val s197Sql: String =
    s"""WITH e AS (${Similarity.vecsDuck}),
       |a AS (SELECT vec_id AS aid, label AS albl, v FROM e WHERE vec_id < 25),
       |scored AS MATERIALIZED (
       |  SELECT aid, albl, c.vec_id AS nid, c.label AS nlbl,
       |    ${Similarity.cosDuck} AS cos
       |  FROM a q JOIN e c ON c.vec_id <> aid),
       |negs AS (
       |  SELECT aid, nid, nlbl, cos,
       |    CAST(row_number() OVER (PARTITION BY aid ORDER BY cos DESC, nid)
       |      AS INTEGER) AS rank
       |  FROM scored WHERE nlbl <> albl),
       |pos AS (SELECT aid, max(cos) AS pos_cos FROM scored
       |        WHERE nlbl = albl GROUP BY aid)
       |SELECT negs.aid, rank, nid, nlbl AS neg_label,
       |  round(cos, 6) AS cos, round(pos_cos, 6) AS pos_cos,
       |  round(pos_cos - cos, 6) AS margin
       |FROM negs LEFT JOIN pos USING (aid)
       |WHERE rank <= 5 ORDER BY aid, rank""".stripMargin

  // ---------------------------------------------------------------- s206

  /** s206: IVF-PQ end-to-end search — the production billion-vector ANN
    * dataflow assembled from the verified kernels: the IVF coarse stage
    * (s39's sign-cell quantizer + decimal-mean centroids, queries probe
    * their 2 nearest cells) RESTRICTS the scan to two posting lists, and
    * the PQ fine stage (s173's asymmetric distance: a broadcast
    * query×subspace×codeword lookup table over s166's stored 8-code rows)
    * scores only those candidates. This is the composition FAISS calls
    * IVFADC: the coarse index bounds IO (2/8 of the corpus touched), the
    * codes bound bytes-per-candidate (8 vs 256), and neither stage ever
    * joins the corpus to itself.
    *
    * Scale shape: centroids (8 rows), the probe map (queries × 2), the
    * codebook (32 rows) and the ADC table (queries × 8 × 4) all broadcast;
    * the corpus-side code table shuffles once on the posting-cell join and
    * aggregates 8 rows per (query, candidate) map-side. At 100 TB the code
    * table is the bucketed standing layout (d189's admit/compact applies
    * verbatim) and the scan reads only probed buckets — partition pruning
    * on the cell key.
    *
    * Determinism: every stage reuses the kernels' exact arithmetic
    * (decimal-mean centroids, floor-quantized distance table, exact BIGINT
    * ADC sums); ranks tie-break on vec_id. The gate oracle recomputes the
    * full composition. */
  def s206IvfPqSearch(s: SparkSession, dir: String): DataFrame = {
    val ix = ivfpqBuild(s, dir)
    val q = ix.all.filter(col("vec_id") < 16)
      .select(col("vec_id").as("qid"), col("v"))
    val qsub = ix.sub.filter(col("vec_id") < 16)
      .selectExpr("vec_id AS qid", "m AS qm", "sv AS qsv")
    ivfpqSearch(q, qsub, ix.cent, ix.cb, ix.postings)
  }

  private case class IvfpqIndex(all: DataFrame, sub: DataFrame,
      cent: DataFrame, cb: DataFrame, postings: DataFrame)

  /** Build the IVF-PQ index triple (centroids, codebook, cell-tagged
    * postings) plus its inputs — ONE definition for the in-memory (s206)
    * and persisted (s275) paths: the two share an oracle, so a drifted
    * copy of this build would surface as a phantom TxLog round-trip
    * failure. */
  private def ivfpqBuild(s: SparkSession, dir: String): IvfpqIndex = {
    val all = Similarity.vecs(s, dir)
      .selectExpr("vec_id", "v", s"${Similarity.signCellExpr} AS cell")
      .persist(StorageLevel.MEMORY_AND_DISK) // feeds centroids, probes, postings
    val cent = all
      .selectExpr("cell", "posexplode(v) AS (dim, x)")
      .groupBy("cell", "dim")
      .agg((sum(col("x").cast("decimal(38,12)")).cast("double") /
        count(lit(1))).as("m"))
      .groupBy("cell")
      .agg(array_sort(collect_list(struct(col("dim"), col("m")))).as("dm"))
      .selectExpr("cell", "transform(dm, e -> e.m) AS cv")
    val sub = pqSub(s, dir).persist(StorageLevel.MEMORY_AND_DISK)
    val cb = pqCodebook(sub)
    val postings = pqAssign(sub, cb)
      .selectExpr("vec_id", "m", "b.code AS code")
      .join(all.select("vec_id", "cell"), "vec_id")
    IvfpqIndex(all, sub, cent, cb, postings)
  }

  /** The IVF-PQ QUERY path over a PROVIDED index (centroids, codebook,
    * cell-tagged postings) — the searcher/index seam: s206 feeds it the
    * just-built in-memory index, s275 the same index read back from
    * versioned TxLog tables. `queries` = (qid, v); `qsub` = (qid, qm,
    * qsv) query subvectors. */
  private[graft] def ivfpqSearch(queries: DataFrame, qsub: DataFrame,
      cent: DataFrame, cb: DataFrame, postings: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val probes = broadcast(queries).as("q")
      .join(broadcast(cent).as("c"), lit(true))
      .selectExpr("qid", "cell",
        "cosine_sim(q.v, c.cv) AS ccos")
      .withColumn("crank", row_number().over(
        Window.partitionBy("qid").orderBy(col("ccos").desc, col("cell"))))
      .filter(col("crank") <= 2)
      .select("qid", "cell")
    val dt = qsub
      .join(broadcast(cb), col("qm") === col("m"))
      .selectExpr("qid", "m", "code",
        "CAST(floor(l2_sq(qsv, cw) * 1e6 + 0.5) AS BIGINT) AS q6")
    postings.join(broadcast(probes), "cell")
      .filter(col("vec_id") =!= col("qid"))
      .join(broadcast(dt), Seq("qid", "m", "code"))
      .groupBy("qid", "vec_id")
      .agg(sum(col("q6")).as("s6"))
      .withColumn("rank", row_number().over(
        Window.partitionBy("qid").orderBy(col("s6"), col("vec_id"))))
      .filter(col("rank") <= 3)
      .selectExpr("qid", "rank", "vec_id AS nid",
        "round(CAST(s6 AS DOUBLE) / 1e6, 6) AS adc")
      .orderBy("qid", "rank")
  }

  // ---------------------------------------------------------------- s275

  private[graft] val IvfpqIndexLayout = graft.SparkSupport.Layout("ivfpq_index", 1)
  /** s275: the IVF-PQ index AS VERSIONED DATA — centroids, codebook, and
    * cell-tagged posting/code table are committed to three
    * [[graft.sources.TxLog]] tables once per corpus, and the SEARCHER
    * reads the index back from those tables (only query vectors come from
    * the corpus). Gate: the answers must be BIT-IDENTICAL to s206's
    * in-memory build (same oracle), proving the index round-trips through
    * the parquet/array encodings and the log intact.
    *
    * This is the production vector-store shape the session's pieces add
    * up to: s193 admits new vectors against a frozen quantizer, d189-style
    * commits land them as posting appends, TxLog versions/compacts/prunes
    * the index tables, and the searcher is a pure reader of a snapshot —
    * index rebuilds become overwrite commits, rollback is time travel. */
  /** The persisted IVF-PQ index tables (centroids, codebook, postings) —
    * built once per corpus into TxLog tables; s275 and s299 read the SAME
    * artifact (one build definition, shared with s206's in-memory path). */
  private def persistedIvfpqIndex(s: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame) = {
    import graft.sources.TxLog
    val root = graft.sources.TxLog.layoutArtifact(IvfpqIndexLayout, dir) { p =>
      val ix = ivfpqBuild(s, dir) // the ONE build definition s206 also runs
      TxLog.append(s, ix.cent, s"$p/centroids", partFiles = 1)
      TxLog.append(s, ix.cb, s"$p/codebook", partFiles = 1)
      TxLog.append(s, ix.postings, s"$p/postings", partFiles = 2)
      ix.all.unpersist(); ix.sub.unpersist()
      java.nio.file.Files.createFile(java.nio.file.Paths.get(p, "_SUCCESS"))
    }
    (TxLog.read(s, s"$root/centroids"), TxLog.read(s, s"$root/codebook"),
      TxLog.read(s, s"$root/postings"))
  }

  /** The 16 probe vectors + their PQ subvectors — the query-side inputs
    * every persisted-index searcher shares. */
  private def probeInputs(s: SparkSession, dir: String)
      : (DataFrame, DataFrame) = {
    val qAll = Similarity.vecs(s, dir).filter(col("vec_id") < 16)
      .persist(StorageLevel.MEMORY_AND_DISK)
    (qAll.select(col("vec_id").as("qid"), col("v")),
      pqSubOf(qAll)
        .select(col("vec_id").as("qid"), col("m").as("qm"), col("sv").as("qsv")))
  }

  def s275IvfpqFromTable(s: SparkSession, dir: String): DataFrame = {
    val (cent, cb, postings) = persistedIvfpqIndex(s, dir)
    // only the QUERY vectors touch the corpus
    val (q, qsub) = probeInputs(s, dir)
    ivfpqSearch(q, qsub, cent, cb, postings)
  }

  // ---------------------------------------------------------------- s299

  private[graft] val AnnTombstonesLayout = graft.SparkSupport.Layout("ann_tombstones", 1)
  /** s299: ANN search under LOGICAL DELETES — the index-maintenance
    * operation a production vector store cannot avoid: documents get
    * taken down (DMCA, PII, opt-out) faster than a billion-vector index
    * can be rebuilt, so deletes land as a TOMBSTONE table and every
    * search masks the postings with an anti-join before ranking. The
    * tombstone set here is vec_id ≥ 16 ∧ vec_id % 7 = 3 (~14% of the
    * corpus, probe vectors never deleted), committed as its own TxLog
    * table beside the index — versioned data like the index itself, so
    * a delete is an O(|tombstones|) append, not an index rebuild.
    *
    * Exactness: ADC scores are per-candidate independent, so masking
    * candidates after cell probing is IDENTICAL to searching an index
    * built without the deleted vectors (cells and codebook are corpus
    * statistics, unchanged by the logical delete — the standard
    * tombstone-compaction tradeoff until a rebuild re-trains them).
    *
    * Scale shape: the tombstone table broadcast-anti-joins the probed
    * postings (tombstones ≪ corpus; at larger delete fractions the
    * anti-join shuffles on vec_id and compaction rewrites the postings —
    * TxLog.overwrite, the d189 admit-compact lifecycle). */
  def s299AnnWithDeletes(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.TxLog
    val (cent, cb, postings) = persistedIvfpqIndex(s, dir)
    val troot = graft.sources.TxLog.layoutArtifact(AnnTombstonesLayout, dir) { p =>
      TxLog.append(s,
        Similarity.vecs(s, dir)
          .filter(col("vec_id") >= 16 && col("vec_id") % 7 === 3)
          .select("vec_id"),
        s"$p/tombstones", partFiles = 1)
      java.nio.file.Files.createFile(java.nio.file.Paths.get(p, "_SUCCESS"))
    }
    val tomb = TxLog.read(s, s"$troot/tombstones")
    val (q, qsub) = probeInputs(s, dir)
    ivfpqSearch(q, qsub, cent, cb,
      postings.join(broadcast(tomb), Seq("vec_id"), "left_anti"))
  }

  /** s299's oracle: the s206 chain with the tombstone predicate excluded
    * at the posting scan — the same one-chain/no-drift convention s275
    * uses. */
  val s299Sql: String =
    s206SqlExcluding("po.vec_id >= 16 AND po.vec_id % 7 = 3")

  /** The s206 oracle parameterized by a posting-exclusion predicate (a
    * string template, the d30SqlAt convention): s206/s275 exclude nothing
    * (`FALSE`), s299 excludes its tombstoned ids — one chain, no drift. */
  def s206SqlExcluding(pred: String): String =
    s"""WITH $pqCtes,
       |cells AS (
       |  SELECT vec_id, v,
       |    CAST(CAST(v[1] >= 0 AS INTEGER) AS VARCHAR) ||
       |    CAST(CAST(v[2] >= 0 AS INTEGER) AS VARCHAR) ||
       |    CAST(CAST(v[3] >= 0 AS INTEGER) AS VARCHAR) AS cell
       |  FROM e),
       |centdim AS (
       |  SELECT cell, k, CAST(sum(CAST(x AS DECIMAL(38,12))) AS DOUBLE) / count(*) AS m
       |  FROM (SELECT cell, unnest(v) AS x, generate_subscripts(v, 1) AS k FROM cells)
       |  GROUP BY cell, k),
       |cent AS (SELECT cell, list(m ORDER BY k) AS cv FROM centdim GROUP BY cell),
       |q AS (SELECT vec_id AS qid, v FROM cells WHERE vec_id < 16),
       |probes AS (
       |  SELECT qid, cell FROM (
       |    SELECT qid, cell, row_number() OVER (PARTITION BY qid ORDER BY
       |      list_reduce(list_transform(range(1, 65), k -> q.v[k] * c.cv[k]), (x, y) -> x + y) /
       |      (sqrt(list_reduce(list_transform(range(1, 65), k -> q.v[k] * q.v[k]), (x, y) -> x + y)) *
       |       sqrt(list_reduce(list_transform(range(1, 65), k -> c.cv[k] * c.cv[k]), (x, y) -> x + y)))
       |      DESC, cell) AS crank
       |    FROM q CROSS JOIN cent c)
       |  WHERE crank <= 2),
       |postings AS (
       |  SELECT b.vec_id, b.m, b.code, cl.cell
       |  FROM best b JOIN cells cl USING (vec_id) WHERE rn = 1),
       |dt AS (
       |  SELECT s.vec_id AS qid, b.m, b.code,
       |    CAST(floor(list_reduce(list_prepend(0.0, list_transform(range(1, 9),
       |      j -> (s.sv[j] - b.cw[j]) * (s.sv[j] - b.cw[j]))),
       |      (x, y) -> x + y) * 1e6 + 0.5) AS BIGINT) AS q6
       |  FROM sub s JOIN cb b ON s.m = b.m
       |  WHERE s.vec_id < 16),
       |adc AS (
       |  SELECT p.qid, po.vec_id, CAST(sum(dt.q6) AS BIGINT) AS s6
       |  FROM probes p JOIN postings po ON po.cell = p.cell
       |  JOIN dt ON dt.qid = p.qid AND dt.m = po.m AND dt.code = po.code
       |  WHERE po.vec_id <> p.qid AND NOT ($pred)
       |  GROUP BY 1, 2),
       |ranked AS (
       |  SELECT qid, vec_id, s6, CAST(row_number() OVER (
       |    PARTITION BY qid ORDER BY s6, vec_id) AS INTEGER) AS rank
       |  FROM adc)
       |SELECT qid, rank, vec_id AS nid,
       |  round(CAST(s6 AS DOUBLE) / 1e6, 6) AS adc
       |FROM ranked WHERE rank <= 3 ORDER BY qid, rank""".stripMargin

  val s206Sql: String = s206SqlExcluding("FALSE")

  // ---------------------------------------------------------------- s319

  /** s319: FRESH-INDEX retrieval — the freshness seam the lifecycle
    * queries left open: s193 computes admit assignments but never commits
    * them, s299 masks deletes but its index holds only the build-time
    * corpus. Here the searcher SEES post-build writes: the IVF-PQ index is
    * built from the STANDING corpus only (history = NOT (vec_id % 7 = 0 ∧
    * vec_id ≥ 16)), its quantizer frozen (history-trained centroids +
    * codebook); the batch (vec_id % 7 = 0 ∧ ≥ 16) is then ADMITTED —
    * each vector assigned to its nearest frozen centroid by cosine (the
    * s193 trained-quantizer semantics, ties to the smaller cell) and
    * PQ-encoded under the frozen codebook — and lands as ONE exactly-once
    * [[graft.sources.TxLog.appendBatch]] posting commit; a takedown set
    * (vec_id % 7 = 3 ∧ ≥ 16) lands as the s299 tombstone table. The
    * searcher is a pure reader of the post-commit log: probes, ADC, top-3
    * over (history ∪ batch) − tombstones, `is_fresh` flagging admitted
    * neighbors. The build itself REPLAYS the admit with the same batch id
    * and requires the version unchanged — exactly-once is an invariant of
    * the artifact, not just a spec assertion.
    *
    * Exactness (why append ≡ rebuild): cells, centroids, and codewords are
    * HISTORY statistics, untouched by the admit; ADC scores are
    * per-candidate independent. So searching the appended index is
    * bit-identical to searching an index built from scratch over the live
    * set with the same frozen quantizer — which is exactly what the oracle
    * does (one SQL chain, no reading of our artifacts).
    *
    * Scale shape: the admit is a broadcast of k centroids + 32 codewords
    * against the batch only — the corpus is never touched (O(batch × k));
    * the append is O(|batch|) postings; the search is s206's probed-cell
    * shape. At 100 TB this is the only index-maintenance cost model that
    * works: admits and takedowns are log appends, rebuilds are overwrite
    * commits, and freshness is read-your-writes through the log. */
  /** HISTORY-trained frozen centroids: per-sign-cell decimal-mean vectors
    * (cell, cv). ONE definition shared by [[s319FreshIndexSearch]]'s build
    * and the streaming admission loop
    * ([[graft.streaming.EventStreams.admitVectorBatch]]) — a drifted copy
    * would assign streamed vectors to cells the batch build never probes. */
  private[graft] def frozenCentroids(hist: DataFrame): DataFrame = hist
    .selectExpr("vec_id", "v", s"${Similarity.signCellExpr} AS cell")
    .selectExpr("cell", "posexplode(v) AS (dim, x)")
    .groupBy("cell", "dim")
    .agg((sum(col("x").cast("decimal(38,12)")).cast("double") /
      count(lit(1))).as("m"))
    .groupBy("cell")
    .agg(array_sort(collect_list(struct(col("dim"), col("m")))).as("dm"))
    .selectExpr("cell", "transform(dm, e -> e.m) AS cv")

  /** Frozen-quantizer ADMISSION of an arbitrary vector batch (vec_id, v):
    * nearest frozen centroid by cosine (s193 semantics, ties to the
    * smaller cell) + PQ encode under the frozen codebook → posting rows
    * (vec_id, m, code, cell). s319's admit stage, factored so the
    * streaming loop commits EXACTLY the postings the batch build would.
    * Scale shape: broadcast of k centroids + 32 codewords against the
    * batch only — the standing corpus is never touched, O(batch × k). */
  private[graft] def freshAdmitPostings(batch: DataFrame, cent: DataFrame,
      cb: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val batchCell = batch.select("vec_id", "v").as("q")
      .join(broadcast(cent).as("c"), lit(true))
      .selectExpr("vec_id", "cell",
        "cosine_sim(q.v, c.cv) AS ccos")
      .withColumn("crank", row_number().over(
        Window.partitionBy("vec_id").orderBy(col("ccos").desc, col("cell"))))
      .filter(col("crank") === 1)
      .select("vec_id", "cell")
    pqAssign(pqSubOf(batch), cb)
      .selectExpr("vec_id", "m", "b.code AS code")
      .join(batchCell, "vec_id")
  }

  private[graft] val IvfpqFreshLayout = graft.SparkSupport.Layout("ivfpq_fresh", 1)
  def s319FreshIndexSearch(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.TxLog
    val root = graft.sources.TxLog.layoutArtifact(IvfpqFreshLayout, dir) { p =>
      val all = Similarity.vecs(s, dir)
        .selectExpr("vec_id", "v", s"${Similarity.signCellExpr} AS cell")
        .persist(StorageLevel.MEMORY_AND_DISK)
      val isBatch = col("vec_id") % 7 === 0 && col("vec_id") >= 16
      val hist = all.filter(!isBatch)
      // frozen quantizer: HISTORY-only per-cell decimal-mean centroids
      val cent = frozenCentroids(hist)
      val histSub = pqSubOf(hist).persist(StorageLevel.MEMORY_AND_DISK)
      val cb = pqCodebook(histSub) // frozen codebook: history subvectors only
      val histPostings = pqAssign(histSub, cb)
        .selectExpr("vec_id", "m", "b.code AS code")
        .join(hist.select("vec_id", "cell"), "vec_id")
      // ADMIT: nearest frozen centroid (s193 semantics) + frozen-cb encode
      val batchPostings = freshAdmitPostings(all.filter(isBatch), cent, cb)
      TxLog.append(s, cent, s"$p/centroids", partFiles = 1)
      TxLog.append(s, cb, s"$p/codebook", partFiles = 1)
      TxLog.append(s, histPostings, s"$p/postings", partFiles = 2)
      val v1 = TxLog.appendBatch(s, batchPostings, s"$p/postings", batchId = 1L)
      val v2 = TxLog.appendBatch(s, batchPostings, s"$p/postings", batchId = 1L)
      require(v1 == v2, s"admit replay re-committed: v$v1 then v$v2")
      TxLog.append(s,
        all.filter(col("vec_id") % 7 === 3 && col("vec_id") >= 16)
          .select("vec_id"),
        s"$p/tombstones", partFiles = 1)
      all.unpersist(); histSub.unpersist()
      java.nio.file.Files.createFile(java.nio.file.Paths.get(p, "_SUCCESS"))
    }
    val cent = TxLog.read(s, s"$root/centroids")
    val cb = TxLog.read(s, s"$root/codebook")
    val postings = TxLog.read(s, s"$root/postings")
    val tomb = TxLog.read(s, s"$root/tombstones")
    val (q, qsub) = probeInputs(s, dir)
    ivfpqSearch(q, qsub, cent, cb,
      postings.join(broadcast(tomb), Seq("vec_id"), "left_anti"))
      .selectExpr("qid", "rank", "nid", "adc",
        "CAST(nid % 7 = 0 AND nid >= 16 AS INT) AS is_fresh")
  }

  /** s319's oracle: ONE from-scratch chain over the live set — codebook
    * and centroids trained on history only ([[pqCtesTrainedOn]]), history
    * postings in their sign cells, batch postings in their nearest-frozen-
    * centroid cells, tombstones excluded at the posting scan. Bit-equality
    * here IS the append ≡ rebuild theorem instantiated. */
  val s319Sql: String =
    s"""WITH ${pqCtesTrainedOn("NOT (vec_id % 7 = 0 AND vec_id >= 16)")},
       |cells AS (
       |  SELECT vec_id, v,
       |    CAST(CAST(v[1] >= 0 AS INTEGER) AS VARCHAR) ||
       |    CAST(CAST(v[2] >= 0 AS INTEGER) AS VARCHAR) ||
       |    CAST(CAST(v[3] >= 0 AS INTEGER) AS VARCHAR) AS cell
       |  FROM e),
       |centdim AS (
       |  SELECT cell, k, CAST(sum(CAST(x AS DECIMAL(38,12))) AS DOUBLE) / count(*) AS m
       |  FROM (SELECT cell, unnest(v) AS x, generate_subscripts(v, 1) AS k
       |        FROM cells WHERE NOT (vec_id % 7 = 0 AND vec_id >= 16))
       |  GROUP BY cell, k),
       |cent AS (SELECT cell, list(m ORDER BY k) AS cv FROM centdim GROUP BY cell),
       |q AS (SELECT vec_id AS qid, v FROM cells WHERE vec_id < 16),
       |probes AS (
       |  SELECT qid, cell FROM (
       |    SELECT qid, cell, row_number() OVER (PARTITION BY qid ORDER BY
       |      list_reduce(list_transform(range(1, 65), k -> q.v[k] * c.cv[k]), (x, y) -> x + y) /
       |      (sqrt(list_reduce(list_transform(range(1, 65), k -> q.v[k] * q.v[k]), (x, y) -> x + y)) *
       |       sqrt(list_reduce(list_transform(range(1, 65), k -> c.cv[k] * c.cv[k]), (x, y) -> x + y)))
       |      DESC, cell) AS crank
       |    FROM q CROSS JOIN cent c)
       |  WHERE crank <= 2),
       |batchcell AS (
       |  SELECT vec_id, cell FROM (
       |    SELECT q.vec_id, c.cell, row_number() OVER (PARTITION BY q.vec_id ORDER BY
       |      list_reduce(list_transform(range(1, 65), k -> q.v[k] * c.cv[k]), (x, y) -> x + y) /
       |      (sqrt(list_reduce(list_transform(range(1, 65), k -> q.v[k] * q.v[k]), (x, y) -> x + y)) *
       |       sqrt(list_reduce(list_transform(range(1, 65), k -> c.cv[k] * c.cv[k]), (x, y) -> x + y)))
       |      DESC, c.cell) AS crank
       |    FROM (SELECT vec_id, v FROM cells
       |          WHERE vec_id % 7 = 0 AND vec_id >= 16) q
       |    CROSS JOIN cent c)
       |  WHERE crank = 1),
       |postings AS (
       |  SELECT b.vec_id, b.m, b.code, cl.cell
       |  FROM best b JOIN cells cl USING (vec_id)
       |  WHERE rn = 1 AND NOT (b.vec_id % 7 = 0 AND b.vec_id >= 16)
       |  UNION ALL
       |  SELECT b.vec_id, b.m, b.code, bc.cell
       |  FROM best b JOIN batchcell bc USING (vec_id)
       |  WHERE rn = 1),
       |dt AS (
       |  SELECT s.vec_id AS qid, b.m, b.code,
       |    CAST(floor(list_reduce(list_prepend(0.0, list_transform(range(1, 9),
       |      j -> (s.sv[j] - b.cw[j]) * (s.sv[j] - b.cw[j]))),
       |      (x, y) -> x + y) * 1e6 + 0.5) AS BIGINT) AS q6
       |  FROM sub s JOIN cb b ON s.m = b.m
       |  WHERE s.vec_id < 16),
       |adc AS (
       |  SELECT p.qid, po.vec_id, CAST(sum(dt.q6) AS BIGINT) AS s6
       |  FROM probes p JOIN postings po ON po.cell = p.cell
       |  JOIN dt ON dt.qid = p.qid AND dt.m = po.m AND dt.code = po.code
       |  WHERE po.vec_id <> p.qid
       |    AND NOT (po.vec_id % 7 = 3 AND po.vec_id >= 16)
       |  GROUP BY 1, 2),
       |ranked AS (
       |  SELECT qid, vec_id, s6, CAST(row_number() OVER (
       |    PARTITION BY qid ORDER BY s6, vec_id) AS INTEGER) AS rank
       |  FROM adc)
       |SELECT qid, rank, vec_id AS nid,
       |  round(CAST(s6 AS DOUBLE) / 1e6, 6) AS adc,
       |  CAST(vec_id % 7 = 0 AND vec_id >= 16 AS INTEGER) AS is_fresh
       |FROM ranked WHERE rank <= 3 ORDER BY qid, rank""".stripMargin

  // ---------------------------------------------------------------- s256

  /** s256: IVF-PQ recall@3 — the END-TO-END accuracy number for the s206
    * composition against s38's exact truth, closing the ANN evaluation
    * triangle: s163 isolates the coarse stage's loss (IVF cell
    * restriction), s173's spec isolates the fine stage's (quantized
    * distances), and this measures their PRODUCT — the only number a
    * deployment actually ships on. Same join-against-truth kernel as
    * s163; the oracle recomputes both pipelines end to end. */
  def s256IvfpqRecall(s: SparkSession, dir: String): DataFrame =
    recallAt3(
      Similarity.s38AnnBrute(s, dir).filter(col("rank") <= 3)
        .select("qid", "nid"),
      s206IvfPqSearch(s, dir).select("qid", "nid"))

  val s256Sql: String =
    s"""WITH truth AS (
       |  SELECT qid, nid FROM (${Similarity.s38Sql}) WHERE rank <= 3),
       |got AS (SELECT qid, nid FROM ($s206Sql)),
       |j AS (
       |  SELECT t.qid, CASE WHEN g.nid IS NULL THEN 0 ELSE 1 END AS hit
       |  FROM truth t LEFT JOIN got g ON g.qid = t.qid AND g.nid = t.nid)
       |SELECT qid, CAST(sum(hit) AS INTEGER) AS n_hit,
       |  round(CAST(sum(hit) AS INTEGER) / 3.0, 6) AS recall_at_3
       |FROM j GROUP BY qid ORDER BY qid""".stripMargin

  // ---------------------------------------------------------------- s309

  /** s309: MMR (Maximal Marginal Relevance, Carbonell & Goldstein 1998)
    * diverse re-ranking — the retrieval stage after ANN: from the
    * query's top-24 cosine shortlist, greedily select k=10 results
    * maximizing λ·rel(d) − (1−λ)·max_{s∈S} sim(d, s) with λ=0.7, so the
    * final list trades raw relevance for coverage (near-duplicate hits
    * are pushed out by their similarity to already-selected results).
    *
    * Determinism discipline: relevance and pairwise similarities are
    * floor-scaled to integer micro-units IN-ENGINE (cosines are strict
    * folds / the native kernel — bit-identical cross-engine, so floor
    * lands identically), and the greedy runs in exact integer arithmetic
    * (score6 = 7·rel6 − 3·maxsim6, ties by vec_id) — the oracle unrolls
    * the same 10 steps as a MATERIALIZED CTE chain (the t296 pattern)
    * and must match bit-for-bit.
    *
    * Scale shape: the corpus-scale work is ONE shortlist pass
    * (`orderBy().limit(24)` → TakeOrderedAndProject; at production scale
    * the shortlist comes from the IVF-PQ searcher s206 instead of brute
    * force). The greedy is driver-side over the collected 24-row
    * shortlist and its 24×23 sim matrix — metadata-sized state, the
    * t291/t296 driver-solve split; nothing iterative touches the
    * corpus. */
  def s309MmrRerank(s: SparkSession, dir: String): DataFrame = {
    val all = Similarity.vecs(s, dir).persist(StorageLevel.MEMORY_AND_DISK)
    val qid = all.agg(min("vec_id")).head().getLong(0)
    val q = all.filter(col("vec_id") === qid).select(col("v"))
    val short = broadcast(q).as("q")
      .crossJoin(all.filter(col("vec_id") =!= qid).as("c"))
      .selectExpr("c.vec_id AS nid", "c.v AS v",
        "cosine_sim(q.v, c.v) AS cos")
      .orderBy(col("cos").desc, col("nid")).limit(24)
      .selectExpr("nid", "v",
        "CAST(floor(cos * 1000000.0D) AS BIGINT) AS rel6")
      .persist(StorageLevel.MEMORY_AND_DISK)
    val rel = short.select("nid", "rel6").collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    require(rel.length >= 10,
      s"MMR needs a shortlist of >= k=10 candidates, got ${rel.length}")
    val sim = short.selectExpr("nid AS anid", "v").as("q")
      .join(short.selectExpr("nid AS bnid", "v").as("c"),
        col("anid") =!= col("bnid"))
      .selectExpr("anid", "bnid",
        "CAST(floor(cosine_sim(q.v, c.v) * 1000000.0D) AS BIGINT) AS sim6")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val picked = scala.collection.mutable.ArrayBuffer
      .empty[(Int, Long, Long, Long, Long)]
    for (k <- 1 to 10) {
      val chosen = picked.map(_._2).toSet
      val best = rel.iterator.filterNot(c => chosen(c._1))
        .map { case (nid, rel6) =>
          val mx = if (chosen.isEmpty) 0L
            else chosen.iterator.map(sel => sim((nid, sel))).max
          (nid, rel6, mx, 7L * rel6 - 3L * mx)
        }
        .reduceLeft { (a, b) =>
          if (b._4 > a._4 || (b._4 == a._4 && b._1 < a._1)) b else a
        }
      picked += ((k, best._1, best._2, best._3, best._4))
    }
    import s.implicits._
    picked.toSeq
      .toDF("rank", "vec_id", "rel6", "max_sim6", "score6")
      .orderBy("rank")
  }

  val s309Sql: String = {
    val steps = (1 to 10).map { k =>
      s"""sel$k AS MATERIALIZED (
         |  SELECT * FROM sel${k - 1}
         |  UNION ALL
         |  SELECT * FROM (
         |    SELECT nid, rel6, mx AS max_sim6, 7 * rel6 - 3 * mx AS score6,
         |      $k AS rank
         |    FROM (
         |      SELECT c.nid, c.rel6,
         |        coalesce((SELECT max(p.sim6) FROM pairs p
         |                  WHERE p.anid = c.nid
         |                    AND p.bnid IN (SELECT nid FROM sel${k - 1})),
         |          0) AS mx
         |      FROM short c
         |      WHERE c.nid NOT IN (SELECT nid FROM sel${k - 1}))
         |    ORDER BY score6 DESC, nid LIMIT 1))""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS MATERIALIZED (${Similarity.vecsDuck}),
       |qv AS (SELECT v FROM e WHERE vec_id = (SELECT min(vec_id) FROM e)),
       |short AS MATERIALIZED (
       |  SELECT c.vec_id AS nid, c.v,
       |    CAST(floor((${Similarity.cosDuck}) * 1000000) AS BIGINT) AS rel6
       |  FROM qv q CROSS JOIN e c
       |  WHERE c.vec_id <> (SELECT min(vec_id) FROM e)
       |  ORDER BY ${Similarity.cosDuck} DESC, c.vec_id LIMIT 24),
       |pairs AS MATERIALIZED (
       |  SELECT q.nid AS anid, c.nid AS bnid,
       |    CAST(floor((${Similarity.cosDuck}) * 1000000) AS BIGINT) AS sim6
       |  FROM short q JOIN short c ON q.nid <> c.nid),
       |sel0 AS (SELECT CAST(NULL AS BIGINT) AS nid,
       |  CAST(NULL AS BIGINT) AS rel6, CAST(NULL AS BIGINT) AS max_sim6,
       |  CAST(NULL AS BIGINT) AS score6, 0 AS rank WHERE 1 = 0),
       |$steps
       |SELECT CAST(rank AS INTEGER) AS rank, nid AS vec_id, rel6,
       |  max_sim6, score6
       |FROM sel10 ORDER BY rank""".stripMargin
  }

  // ---------------------------------------------------------------- s314

  /** s314: cross-encoder-style RERANK over the fused retrieval shortlist
    * — the third tier of the production retrieval chain (s196 retrieves
    * and fuses, THIS reranks, s309 diversifies). A bi-encoder scores
    * query and doc independently (one cosine); a cross-encoder sees the
    * PAIR jointly — here three interaction features per (query, doc):
    * query-term coverage (how many of the 8 query terms the doc
    * contains), query-term density (their total occurrences per doc
    * token), and the exact embedding cosine — combined by a BROADCAST
    * linear model (fixed distilled weights 0.45/0.25/0.30, the t199
    * distillation shape: at production the weights come from regressing
    * a heavy teacher's scores; the serving-side plumbing — pair features
    * over a bounded shortlist, linear scorer, re-sort — is what this
    * operator exercises).
    *
    * Determinism: every feature lands in integer micro-units before the
    * combine — coverage as n_cover·125000 (exact: 10⁶/8), density as
    * (10⁶·tf) DIV len (integer division), cosine floor-scaled 10⁶ (the
    * s309 pattern over the bit-identical strict-fold kernel) — and
    * score6 = 45·cover6 + 25·dens6 + 30·cos6 is pure BIGINT arithmetic
    * with doc_id tie-breaks.
    *
    * Scale shape: the shortlist doc ids are a ≤20-row driver collect
    * (metadata-sized, the t156 cutoff convention); feature extraction is
    * isInCollection-filtered scans (at 100 TB: index point-lookups) and
    * the re-sort is an `orderBy().limit(10)` over 20 rows with the rank
    * window over the limit-bounded result. The corpus-scale work remains
    * exactly s196's two shortlist legs — the rerank adds no unbounded
    * stage. */
  def s314CrossencoderRerank(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val (toks, qt, fused) = hybridRetrieval(s, dir)
    // EAGER checkpoint of the 20-row fused shortlist, then BROADCAST joins
    // against it — r9's shape collected the ids to the driver and rebuilt
    // three isInCollection filters, each of whose actions re-executed lazy
    // subplans (44 scheduled jobs, pure floor at gate SF). One
    // materialization + broadcast semi-join probes is the same point-
    // lookup access pattern at scale (the shortlist is metadata-sized
    // either way) with a single terminal action.
    val shortlist = fused.select("doc_id").localCheckpoint(true)
    val short = toks.join(broadcast(shortlist), "doc_id")
    // r15-opt (guide §2.2): tfa and lens both aggregated the SAME
    // shortlist-joined token rows (one with a query-term join, one
    // without) — fused into a single doc-keyed pass. The 8 query terms
    // are driver-known (qt is an eagerly-materialized 8-row checkpoint;
    // reading them is the s315 shortlist convention), so the query-term
    // membership is a codegen'd isin instead of a broadcast join.
    // Identical arithmetic: sumtf = INNER-join row count ≡ conditional
    // sum; n_cover = countDistinct over matched terms (the when() is
    // null on non-matches, which countDistinct ignores); docs with no
    // query-term rows now carry 0 instead of a null from the old LEFT
    // join — same value after the existing coalesce(…, 0).
    val qTerms = qt.select("t").collect().map(_.getString(0)).toSeq
    // r16-opt (guide §2.4, VERDICT r15 item 1): the cosine leg used to be
    // its own broadcast join into `feat`, and n_cover's countDistinct
    // planned as a second (Expand-backed) aggregate. Both fold into ONE
    // doc-keyed aggregate over the UNION of the token rows and the ≤20
    // map-side cosine rows:
    //  - each token row carries (cnt=1, its query-term BIT, cos6p=0); each
    //    cosine row carries (cnt=0, mask=0, cos6p=cos6). vec_id is unique,
    //    so sum(cos6p) ≡ the old join's cos6 (and 0 where no embedding
    //    exists ≡ the old LEFT-join null after its coalesce);
    //  - n_cover = bit_count(bit_or(mask)) ≡ countDistinct over matched
    //    terms: the ≤8 driver-known terms map to distinct bits, unmatched
    //    rows contribute mask 0;
    //  - len counts token rows only (cnt=0 on cosine rows), so dens6 is
    //    untouched; sumtf = count of matched-term rows, as before.
    // One aggregation pass, one broadcast join fewer, no Expand.
    val qBit = qTerms.zipWithIndex.foldLeft(lit(0L)) { case (acc, (t, i)) =>
      when(col("t") === lit(t), lit(1L << i)).otherwise(acc)
    }
    val tokRows = short.select(col("doc_id"), lit(1L).as("cnt"),
      qBit.as("mask"), lit(0L).as("cos6p"))
    val all = Similarity.vecs(s, dir)
    val cosRows = broadcast(all.filter(col("vec_id") === 0).select(col("v"))).as("q")
      .crossJoin(all.join(
        broadcast(shortlist.select(col("doc_id").as("vec_id"))), "vec_id").as("c"))
      .select(col("c.vec_id").as("doc_id"), lit(0L).as("cnt"),
        lit(0L).as("mask"),
        expr("CAST(floor(cosine_sim(q.v, c.v) * 1000000.0D) AS BIGINT)")
          .as("cos6p"))
    val tfl = tokRows.unionByName(cosRows).groupBy("doc_id").agg(
      sum(col("cnt")).as("len"),
      sum(when(col("mask") =!= 0L, 1L).otherwise(0L)).as("sumtf"),
      expr("bit_count(bit_or(mask))").as("n_cover"),
      sum(col("cos6p")).as("cos6"))
    val feat = shortlist
      .join(tfl, Seq("doc_id"), "left")
      .selectExpr("doc_id",
        "CAST(coalesce(n_cover, 0) AS BIGINT) AS n_cover",
        """CASE WHEN coalesce(sumtf, 0) = 0 THEN CAST(0 AS BIGINT)
          |     ELSE (1000000L * sumtf) DIV len END AS dens6""".stripMargin,
        "coalesce(cos6, CAST(0 AS BIGINT)) AS cos6")
      .withColumn("score6",
        expr("45L * n_cover * 125000L + 25L * dens6 + 30L * cos6"))
    feat.orderBy(col("score6").desc, col("doc_id")).limit(10)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("score6").desc, col("doc_id"))))
      .select("rank", "doc_id", "n_cover", "dens6", "cos6", "score6")
      .orderBy("rank")
  }

  val s314Sql: String =
    s"""WITH fused AS (SELECT doc_id FROM ($s196Sql)),
       |${termSelectCtes("2")},
       |short AS (SELECT toks2.doc_id, t FROM toks2 JOIN fused USING (doc_id)),
       |tfa AS (SELECT doc_id, count(*) AS sumtf,
       |          count(DISTINCT t) AS n_cover
       |        FROM short WHERE t IN (SELECT t FROM qt2) GROUP BY doc_id),
       |lens AS (SELECT doc_id, count(*) AS len FROM short GROUP BY doc_id),
       |e2 AS (${Similarity.vecsDuck}),
       |q2 AS (SELECT v FROM e2 WHERE vec_id = 0),
       |cosf AS (SELECT c.vec_id AS doc_id,
       |    CAST(floor((${Similarity.cosDuck}) * 1000000) AS BIGINT) AS cos6
       |  FROM q2 q, e2 c WHERE c.vec_id IN (SELECT doc_id FROM fused)),
       |feat AS (
       |  SELECT f.doc_id,
       |    CAST(coalesce(n_cover, 0) AS BIGINT) AS n_cover,
       |    CASE WHEN coalesce(sumtf, 0) = 0 THEN CAST(0 AS BIGINT)
       |         ELSE (1000000 * sumtf) // len END AS dens6,
       |    coalesce(cos6, CAST(0 AS BIGINT)) AS cos6
       |  FROM fused f LEFT JOIN tfa USING (doc_id)
       |  LEFT JOIN lens USING (doc_id) LEFT JOIN cosf USING (doc_id)),
       |scored AS (
       |  SELECT doc_id, n_cover, dens6, cos6,
       |    45 * n_cover * 125000 + 25 * dens6 + 30 * cos6 AS score6
       |  FROM feat)
       |SELECT CAST(row_number() OVER (ORDER BY score6 DESC, doc_id)
       |    AS INTEGER) AS rank,
       |  doc_id, n_cover, dens6, cos6, score6
       |FROM scored ORDER BY score6 DESC, doc_id LIMIT 10""".stripMargin

  // ---------------------------------------------------------------- s315

  /** s315: the full RAG retrieval chain as ONE gate — retrieve (s196's
    * two shortlist legs) → fuse (list-RRF top-20) → rerank (s314's
    * cross-encoder tier, top-10) → DIVERSIFY (MMR over the reranked
    * list, k=5). Each tier is individually gated; this composition gate
    * exists because tier BOUNDARIES are where retrieval stacks drift —
    * a rescale lost between rerank and diversify, a tie-break flipped
    * across a collect — and the oracle re-derives all four tiers in one
    * SQL pass, so any boundary drift breaks the hash.
    *
    * MMR here runs on the RERANKED relevance (rel6 = s314 score6 DIV 100
    * — brings the 10⁸-scale linear score to cosine's 10⁶ micro-unit
    * scale so the λ = 0.7 trade is meaningful), with pairwise similarity
    * the floor-scaled exact cosine (docs without embeddings contribute 0
    * — no diversity penalty, both engines). Greedy: score = 7·rel6 −
    * 3·max_{s∈S} sim6, ties by doc_id — exact integer arithmetic, the
    * s309 determinism discipline.
    *
    * Scale shape: corpus-scale work is exactly s196's legs; everything
    * after operates on a ≤20-row shortlist, the greedy on the collected
    * 10-row list and its 10×9 sim matrix (metadata-sized — the s309/t296
    * driver-solve split). */
  def s315RagPipeline(s: SparkSession, dir: String): DataFrame = {
    val reranked = s314CrossencoderRerank(s, dir)
      .selectExpr("doc_id", "score6 DIV 100L AS rel6").collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    val ids = reranked.map(_._1).toSeq
    val sub = Similarity.vecs(s, dir).filter(col("vec_id").isInCollection(ids))
    val sim = sub.selectExpr("vec_id AS anid", "v").as("q")
      .join(sub.selectExpr("vec_id AS bnid", "v").as("c"),
        col("anid") =!= col("bnid"))
      .selectExpr("anid", "bnid",
        "CAST(floor(cosine_sim(q.v, c.v) * 1000000.0D) AS BIGINT) AS sim6")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val k = math.min(5, reranked.length)
    val picked = scala.collection.mutable.ArrayBuffer
      .empty[(Int, Long, Long, Long, Long)]
    for (step <- 1 to k) {
      val chosen = picked.map(_._2).toSet
      val best = reranked.iterator.filterNot(c => chosen(c._1))
        .map { case (nid, rel6) =>
          // max over EXISTING pairs only (a doc without an embedding has
          // no pair rows), empty → 0 — exactly the oracle's
          // coalesce(max over prs, 0), so negative cosines can't diverge
          val mx = chosen.iterator
            .flatMap(sel => sim.get((nid, sel))).maxOption.getOrElse(0L)
          (nid, rel6, mx, 7L * rel6 - 3L * mx)
        }
        .reduceLeft { (a, b) =>
          if (b._4 > a._4 || (b._4 == a._4 && b._1 < a._1)) b else a
        }
      picked += ((step, best._1, best._2, best._3, best._4))
    }
    import s.implicits._
    picked.toSeq
      .toDF("rank", "doc_id", "rel6", "max_sim6", "mmr6")
      .orderBy("rank")
  }

  val s315Sql: String = {
    val steps = (1 to 5).map { st =>
      s"""pick$st AS MATERIALIZED (
         |  SELECT * FROM pick${st - 1}
         |  UNION ALL
         |  SELECT * FROM (
         |    SELECT doc_id, rel6, mx AS max_sim6,
         |      7 * rel6 - 3 * mx AS mmr6, $st AS rank
         |    FROM (
         |      SELECT c.doc_id, c.rel6,
         |        coalesce((SELECT max(p.sim6) FROM prs p
         |                  WHERE p.anid = c.doc_id
         |                    AND p.bnid IN (SELECT doc_id FROM pick${st - 1})),
         |          0) AS mx
         |      FROM r10 c
         |      WHERE c.doc_id NOT IN (SELECT doc_id FROM pick${st - 1}))
         |    ORDER BY mmr6 DESC, doc_id LIMIT 1))""".stripMargin
    }.mkString(",\n")
    s"""WITH r10 AS MATERIALIZED (
       |  SELECT doc_id, score6 // 100 AS rel6 FROM ($s314Sql)),
       |e3 AS MATERIALIZED (${Similarity.vecsDuck}),
       |prs AS MATERIALIZED (
       |  SELECT q.vec_id AS anid, c.vec_id AS bnid,
       |    CAST(floor((${Similarity.cosDuck}) * 1000000) AS BIGINT) AS sim6
       |  FROM e3 q JOIN e3 c ON q.vec_id <> c.vec_id
       |  WHERE q.vec_id IN (SELECT doc_id FROM r10)
       |    AND c.vec_id IN (SELECT doc_id FROM r10)),
       |pick0 AS (SELECT CAST(NULL AS BIGINT) AS doc_id,
       |  CAST(NULL AS BIGINT) AS rel6, CAST(NULL AS BIGINT) AS max_sim6,
       |  CAST(NULL AS BIGINT) AS mmr6, 0 AS rank WHERE 1 = 0),
       |$steps
       |SELECT CAST(rank AS INTEGER) AS rank, doc_id, rel6, max_sim6, mmr6
       |FROM pick5 ORDER BY rank""".stripMargin
  }

  // ---------------------------------------------------------------- maps

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "s315_rag_pipeline" -> s315RagPipeline,
    "s314_crossencoder_rerank" -> s314CrossencoderRerank,
    "s309_mmr_rerank"   -> s309MmrRerank,
    "s163_ann_recall"   -> s163AnnRecall,
    "s166_pq_codes"     -> s166PqCodes,
    "s173_pq_adc_search" -> s173PqAdcSearch,
    "s196_hybrid_rrf"   -> s196HybridRrf,
    "s197_hard_negatives" -> s197HardNegatives,
    "s206_ivfpq_search" -> s206IvfPqSearch,
    "s256_ivfpq_recall" -> s256IvfpqRecall,
    "s275_ivfpq_from_table" -> s275IvfpqFromTable,
    "s299_ann_with_deletes" -> s299AnnWithDeletes,
    "s319_fresh_index_search" -> s319FreshIndexSearch)

  val oracle: Map[String, String] = Map(
    "s315_rag_pipeline" -> s315Sql,
    "s314_crossencoder_rerank" -> s314Sql,
    "s309_mmr_rerank"   -> s309Sql,
    "s163_ann_recall"   -> s163Sql,
    "s166_pq_codes"     -> s166Sql,
    "s173_pq_adc_search" -> s173Sql,
    "s196_hybrid_rrf"   -> s196Sql,
    "s197_hard_negatives" -> s197Sql,
    "s206_ivfpq_search" -> s206Sql,
    "s256_ivfpq_recall" -> s256Sql,
    // the persisted-index searcher must reproduce the in-memory build
    // bit-for-bit — same oracle as s206
    "s275_ivfpq_from_table" -> s206Sql,
    "s299_ann_with_deletes" -> s299Sql,
    "s319_fresh_index_search" -> s319Sql)
}
