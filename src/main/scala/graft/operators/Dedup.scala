package graft.operators

import graft.Tables
import graft.functions.PortableHash._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Deduplication suite over the `documents`/`embeddings` tables — the
  * training-data-pipeline operators (north star): exact, n-gram-Jaccard,
  * MinHash+LSH, SimHash, and embedding-cosine near-dup. Every query has a
  * full DuckDB oracle: the hash functions are portable integer arithmetic
  * ([[graft.functions.PortableHash]]), so even the sketch-based paths are
  * value-checked, not just smoke-tested.
  *
  * Scale design (100 TB stance):
  *  - No all-pairs comparison anywhere except inside a blocking bucket.
  *    Candidate generation is always an inverted-index/bucket equi-join
  *    (shingle, LSH band, SimHash chunk, sign-cell) — the shuffle key is the
  *    bucket, so work scales with Σ bucket² not corpus², and AQE's skew
  *    splitting handles hot buckets.
  *  - Signatures are computed in one projection pass (map-side, no shuffle)
  *    via higher-order functions; only the (id, bucket) pairs shuffle.
  *  - The per-doc shingle set is the only wide intermediate; at 100 TB the
  *    pattern is identical, with the candidate join keyed by band to keep
  *    partitions bounded.
  */
object Dedup {

  /** Documents ∪ exact copies of every 10th doc (re-keyed) — a corpus with
    * known planted duplicates, since the raw table has none. */
  private[operators] def corpusWithCopies(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
    d.unionByName(
      d.filter(col("doc_id") % 10 === 0)
        .withColumn("doc_id", col("doc_id") + 1000000)
        .withColumn("source", lit("copy")))
  }

  private[operators] val corpusSql =
    """corpus AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 10 = 0)"""
      .stripMargin

  /** Exact dedup: hash-groupBy on content. One shuffle keyed by the text
    * hash; at scale group on md5 (fixed 32 bytes) rather than the raw text
    * to bound shuffle row width. */
  def d29Exact(s: SparkSession, dir: String): DataFrame =
    corpusWithCopies(s, dir)
      .groupBy(md5(col("text")).as("content_hash"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      .orderBy(col("keep_id"))

  val d29Sql: String =
    s"""WITH $corpusSql
       |SELECT md5(text) AS content_hash, min(doc_id) AS keep_id,
       |  count(*) AS n_copies
       |FROM corpus GROUP BY md5(text) ORDER BY keep_id""".stripMargin

  /** The shingle inverted index (doc_id, h): [[docHashArrays]] exploded,
    * one row per (doc, distinct 3-shingle). Every near-dup query
    * (d30/d31/d141…) reads it off the one persisted per-doc layout, so the
    * tokenize → shingle → hash projection runs once per corpus (hash
    * collisions at P=1e9+7 are identical in the oracle, which uses the
    * same arithmetic). */
  private[operators] def shingleIndex(s: SparkSession, dir: String): DataFrame =
    docHashArrays(s, dir).selectExpr("doc_id", "explode(hs) AS h")

  /** Enforce the PER-DOC-DISTINCT premise under the d181/d225 prefix prune
    * bounds (r16, VERDICT r15 item 7): the array build dedups per-doc
    * shingle STRINGS, so a repeated hash in a doc's `hs` can only mean
    * poly_hash collided on two distinct strings within one document. The
    * prune bounds (and the prefix-completeness pigeonhole itself) are
    * sound on distinct postings but NOT under the oracle's
    * product-counting join semantics on duplicates — Curation3Spec carries
    * the concrete miss counterexample — so a colliding corpus must fail
    * the build loudly, never silently drop pairs. Checked on the per-doc
    * arrays (doc_id, hs, ns) as `size(array_distinct(hs)) = ns`: a
    * map-side projection and one global sum, paid at layout build. */
  private[operators] def assertPerDocDistinct(arrs: DataFrame): Unit = {
    val dups = arrs.agg(coalesce(
      sum(col("ns") - size(array_distinct(col("hs")))), lit(0L))).head().getLong(0)
    require(dups == 0L,
      s"shingle index premise violated: $dups duplicate (doc_id, h) rows — " +
        "poly_hash collided on distinct shingle strings within a document; " +
        "the d181/d225 prefix prune bounds are unsound on multiset " +
        "postings (Curation3Spec pins the counterexample). Rebuild with a " +
        "wider hash.")
  }

  private[graft] val ShingleIdxDfLayout = graft.SparkSupport.Layout("shingle_idx_df", 2)
  /** The DF-ANNOTATED shingle index: (doc_id, h, df, ns, pos) where df is
    * h's document frequency, ns the doc's shingle count, and pos the
    * doc's rarest-first rank (ordered by df then h — total within a doc,
    * h is distinct there). The prefix-filter joins (d181/d225/d268) read
    * their prefixes as a pure COLUMN FILTER on pos. Derived from the
    * exploded [[docHashArrays]] (ns rides the arrays), so its build is one
    * dfreq shuffle + one doc-keyed window pass and no second tokenize. */
  private[operators] def shingleIndexAnnotated(
      s: SparkSession, dir: String): DataFrame = {
    val path = graft.SparkSupport.layoutArtifact(ShingleIdxDfLayout, dir) { p =>
      val idx = docHashArrays(s, dir).selectExpr("doc_id", "ns", "explode(hs) AS h")
      val dfreq = idx.groupBy("h").agg(count(lit(1)).as("df"))
      idx.join(dfreq, "h")
        .withColumn("pos", row_number().over(
          Window.partitionBy("doc_id").orderBy("df", "h")))
        .select("doc_id", "h", "df", "ns", "pos")
        .write.mode("overwrite").parquet(p)
    }
    Tables.parquet(s, path)
  }

  private[graft] val DocHashArraysLayout = graft.SparkSupport.Layout("doc_hash_arrays", 2)
  /** Per-doc SORTED shingle-hash arrays (doc_id, hs, ns): hs the poly_hash
    * of each distinct 3-shingle, sorted, and ns = |hs| — the ROOT of the
    * near-dup layouts, built straight from the documents in one map-side
    * projection (no per-doc regroup shuffle). The inverted index
    * ([[shingleIndex]], [[shingleIndexAnnotated]]) is these arrays
    * exploded, the band chain ([[bandsOf]], [[historyBandIndex]],
    * [[admittedBandIndex]]) folds minhash16 over them, and verification
    * counts a candidate pair's common shingles as
    * `sorted_multiset_common(hs_a, hs_b)` — one codegen'd merge per pair.
    * ~n̄ longs per doc, so the table broadcast-joins against candidate
    * lists; past the broadcast threshold the joins degrade to shuffled
    * joins of |cand| rows. Docs under 3 tokens have no shingle and no row
    * (the oracle's `bandCtes` mirrors this). */
  private[operators] def docHashArrays(s: SparkSession, dir: String): DataFrame = {
    val path = graft.SparkSupport.layoutArtifact(DocHashArraysLayout, dir) { p =>
      val arrs = Tables.documents(s, dir)
        .filter(expr(s"size($tokens) >= 3")) // work-skip: no shingle below 3
        .selectExpr("doc_id",
          s"sort_array(transform(${shingles(3)}, sh -> poly_hash(sh))) AS hs")
        .selectExpr("doc_id", "hs", "CAST(size(hs) AS BIGINT) AS ns")
      arrs.write.mode("overwrite").parquet(p)
      assertPerDocDistinct(s.read.schema(arrs.schema).parquet(p)) // no inference job
    }
    Tables.parquet(s, path)
  }

  /** Jaccard from the integer common count and both shingle-set sizes
    * (common, n1, n2), rounded to 6 places — the scoring formula of
    * [[jaccardScored]] (d30/d141) and [[scoredOnArrays]]
    * (d31/d142/d185/d189). One definition: a change to the formula or its
    * rounding must reach every sibling or none (the pairExplodeExpr
    * rationale). */
  private val jaccardOf: Column =
    round(col("common") / (col("n1") + col("n2") - col("common")), 6)

  /** Attach both docs' shingle-set sizes and score [[jaccardOf]]. Expects
    * (id1, id2, common, ...); `n` is (doc_id, ns); adds n1, n2, jac.
    * Curried for `.transform(jaccardScored(n))` composition. */
  private[graft] def jaccardScored(n: DataFrame)(pairs: DataFrame): DataFrame =
    pairs
      .join(n.withColumnRenamed("doc_id", "id1").withColumnRenamed("ns", "n1"), "id1")
      .join(n.withColumnRenamed("doc_id", "id2").withColumnRenamed("ns", "n2"), "id2")
      .withColumn("jac", jaccardOf)

  /** C(n,2) ordered-pair explosion over a sorted `ids` array column — THE
    * bucket pair generator every near-dup candidate/verification stage
    * shares (one definition: a slice off-by-one would otherwise need
    * fixing at eight call sites across Dedup/Curation3). Emits
    * struct(id1, id2) with id1 < id2 in array order; callers alias it
    * `AS p` and project/aggregate on p.id1/p.id2. */
  /** r15-opt (guide §4): the HOF chain this used to be —
    * `explode(flatten(transform(ids, (x, i) -> transform(slice(ids, i+2,
    * …), y -> struct(x AS id1, y AS id2)))))` — ran an interpreted lambda
    * per ELEMENT and copied the array tail per element through slice();
    * [[graft.catalyst.PairStructs]] builds the identical pair array in
    * one compiled loop per bucket row. Every consumer's enclosing query
    * registers the native family (directly or through
    * [[shingleIndexAnnotated]]) before referencing this string. */
  private[graft] val pairExplodeExpr: String = "explode(pair_structs(ids))"

  /** Band-bucket df-ceiling — d141's stop-shingle discipline mirrored at
    * the LSH BAND layer (the r10 verdict's one flagged unbounded term in
    * the near-dup family): Σ C(bucket, 2) is the pair volume, so one
    * boilerplate-heavy band key shared by 10⁶ docs is a 10⁶-element
    * `collect_list` row and 5·10¹¹ exploded pairs. A band shared by more
    * than this many docs has no discriminative power — it is boilerplate
    * colliding at the signature level — so oversized buckets are DROPPED
    * before pair explosion; their member docs still pair through their
    * other three bands (LSH's own band redundancy, the same recall
    * argument the banding scheme is built on). 100 comfortably clears
    * every gate corpus's largest band bucket (gate hashes are unchanged;
    * DedupSpec plants a pathological band to prove the bound bites), while
    * capping any adversarial bucket's contribution at C(100,2). */
  private[graft] val BandBucketCap = 100

  private[operators] val shingleIndexSql =
    """s AS (
      |  SELECT doc_id, list_reduce(list_prepend(CAST(7 AS BIGINT),
      |      list_transform(string_split(sh,''), c -> CAST(ascii(c) AS BIGINT))),
      |      (acc, x) -> (acc * 31 + x) % 1000000007) AS h
      |  FROM (
      |    SELECT doc_id, unnest(list_distinct(list_transform(
      |      range(1, len(string_split(lower(text),' ')) - 1),
      |      i -> array_to_string((string_split(lower(text),' '))[i:i+2], ' ')))) AS sh
      |    FROM documents))""".stripMargin

  /** n-gram Jaccard near-dup via the shingle inverted index: docs sharing a
    * shingle pair up (never all-pairs), common counts aggregate per pair,
    * J = |∩| / (|A|+|B|-|∩|) from integer counts.
    *
    * Pair generation groups the index by shingle hash and explodes C(n,2)
    * pairs per bucket rather than self-joining the index — a self-join
    * would recompute the tokenize+shingle+hash projection on BOTH sides
    * (Spark doesn't materialize shared subplans), doubling the expensive
    * part. One shuffle keyed by shingle hash.
    *
    * REGIME BOUNDARY (r14 verdict finding 1): this is the EXACT form —
    * every co-shingling pair is generated, so pair volume is Σ C(df, 2)
    * over shingle document frequencies and one boilerplate shingle shared
    * by 10⁶ docs would alone explode its bucket to 5·10¹¹ pairs. It is
    * therefore valid only while the corpus's max shingle df stays small
    * (gate corpora: ≤ 25 docs/shingle at sf0.1; IncrementalSpec bounds
    * the pair volume as a property). At production scale — or on any
    * corpus with shared boilerplate — use [[d141CappedJaccard]], the SAME
    * pipeline with shingles above a df ceiling dropped before pair
    * generation (Σ C(df,2) bounded at C(10,2) per bucket), or the banded
    * [[d31MinhashLsh]] whose [[BandBucketCap]] bounds candidate volume
    * regardless of df skew. d30 is kept in this exact form as the parity
    * oracle those capped forms are validated against. */
  def d30NgramJaccard(s: SparkSession, dir: String): DataFrame = {
    // idx feeds both the pair explosion and the per-doc sizes — persist so
    // the tokenize→shingle→hash pipeline runs once (see d31's cost note).
    val idx = shingleIndex(s, dir).persist(StorageLevel.MEMORY_AND_DISK)
    val n = idx.groupBy("doc_id").agg(count(lit(1)).as("ns"))
    val pairs = idx.groupBy("h")
      .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
      .selectExpr(s"$pairExplodeExpr AS p")
      .groupBy(col("p.id1").as("id1"), col("p.id2").as("id2"))
      .agg(count(lit(1)).as("common"))
    pairs
      .transform(jaccardScored(n))
      .filter(col("jac") >= 0.2)
      .select("id1", "id2", "common", "jac")
      .orderBy("id1", "id2")
  }

  /** d30's oracle parameterized by the Jaccard gate — d30 runs at 0.2,
    * d181's prefix-filter twin at its design threshold 0.8 (a string
    * template, not post-hoc `.replace` surgery on the finished SQL, which
    * would silently no-op if the literal ever moved). */
  def d30SqlAt(threshold: String): String =
    s"""WITH $shingleIndexSql,
       |n AS (SELECT doc_id, count(*) AS ns FROM s GROUP BY doc_id),
       |pairs AS (
       |  SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS common
       |  FROM s a JOIN s b ON a.h = b.h AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT id1, id2, common,
       |  round(common * 1.0 / (n1.ns + n2.ns - common), 6) AS jac
       |FROM pairs JOIN n n1 ON id1 = n1.doc_id JOIN n n2 ON id2 = n2.doc_id
       |WHERE round(common * 1.0 / (n1.ns + n2.ns - common), 6) >= $threshold
       |ORDER BY id1, id2""".stripMargin

  val d30Sql: String = d30SqlAt("0.2")

  /** MinHash+LSH near-dup: band-bucket candidate generation (docs agreeing
    * on any 4-row band), then exact Jaccard verification of candidates only
    * — the standard sketch → candidate → verify pipeline, so the exact
    * measure runs on |candidates|, not |pairs|.
    *
    * Both halves read the one per-doc layout, [[docHashArrays]]: the
    * char-level polyHash fold ran once per (doc, shingle) when it was built,
    * the 16 permutation hashes are one codegen'd minhash16 pass per array
    * ([[bandsOf]], map-side), and verification is [[scoredOnArrays]].
    * Candidates come from group-by-band + C(n,2) pair explosion
    * ([[bucketPairs]], the same shape as d30) rather than a band self-join —
    * one shuffle, no second pass, with [[BandBucketCap]] bounding each
    * bucket. */
  def d31MinhashLsh(s: SparkSession, dir: String): DataFrame = {
    val docs = docHashArrays(s, dir)
    scoredOnArrays(bucketPairs(bandsOf(docs)).distinct(), docs, identity)
      .select("id1", "id2", "jac", "is_dup")
      .orderBy("id1", "id2")
  }

  /** The d31 candidate/verify CTE chain (shingle index → 16-hash signatures
    * → band keys → candidate pairs → shared-shingle counts), factored out so
    * downstream oracle SQL can compose it (d144 chains connected components
    * and canonical selection onto the same pair pipeline). */
  /** The DuckDB polyHash fold over a string column — ONE definition for
    * every oracle that mirrors [[graft.catalyst.PolyHash]] (the d30SqlAt
    * comment's drift warning applies: a stale copy would check stale
    * arithmetic and report a phantom Spark bug). */
  private[operators] def polyDuckOf(v: String): String =
    s"""list_reduce(list_prepend(CAST(7 AS BIGINT),
       |  list_transform(string_split($v,''), c -> CAST(ascii(c) AS BIGINT))),
       |  (acc, x) -> (acc * 31 + x) % 1000000007)""".stripMargin

  /** The shingle→16-hash-signature→band-key oracle CTE chain (`s`, `d`,
    * `sig`, `bands`) — the SQL mirror of [[shingleIndex]] + [[bandsOf]],
    * factored once so d31/d142/d185/d189/d218 compose query-specific
    * cand/n/common CTEs on top of identical minhash arithmetic. */
  private[operators] val bandCtes: String =
    s"""$shingleIndexSql,
       |d AS (
       |  SELECT doc_id, list_distinct(list_transform(
       |    range(1, len(string_split(lower(text),' ')) - 1),
       |    i -> array_to_string((string_split(lower(text),' '))[i:i+2], ' '))) AS shingles
       |  -- mirror shingleIndex's sub-3-token exclusion: a shorter doc has
       |  -- no 3-shingle, and without this WHERE its empty list would fold
       |  -- to NULL minhashes and a shared degenerate band_key, creating
       |  -- oracle-only candidate pairs the Spark side never generates
       |  FROM documents
       |  WHERE len(string_split(lower(text),' ')) >= 3),
       |sig AS (
       |  SELECT doc_id, list_transform(range(0, 16), i ->
       |    list_min(list_transform(shingles, sh ->
       |      ((2*i + 1) * (${polyDuckOf("sh")}) + i*12345 + 678) % 1000000007))) AS mh
       |  FROM d),
       |bands AS (
       |  SELECT doc_id, unnest(list_transform(range(0, 4), b ->
       |    CAST(b AS VARCHAR) || ':' || array_to_string(mh[b*4+1:b*4+4], '-'))) AS band_key
       |  FROM sig)""".stripMargin

  private[operators] val minhashPairCtes: String = {
    // keep_bands mirrors the engine's BandBucketCap (same constant): both
    // sides must drop oversized band buckets or parity on a boilerplate-
    // heavy corpus becomes data-dependent — the oracle would generate
    // pairs the engine deliberately refuses (r11 ADVICE finding)
    s"""$bandCtes,
       |keep_bands AS (
       |  SELECT band_key FROM bands GROUP BY 1 HAVING count(*) <= $BandBucketCap),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
       |  FROM bands a JOIN bands b ON a.band_key = b.band_key AND a.doc_id < b.doc_id
       |  JOIN keep_bands kb ON a.band_key = kb.band_key),
       |n AS (SELECT doc_id, count(*) AS ns FROM s GROUP BY doc_id),
       |common AS (
       |  SELECT id1, id2, count(*) AS common
       |  FROM cand JOIN s sa ON sa.doc_id = id1 JOIN s sb ON sb.doc_id = id2
       |  WHERE sa.h = sb.h GROUP BY 1, 2)""".stripMargin
  }

  val d31Sql: String =
    s"""WITH $minhashPairCtes
       |SELECT id1, id2,
       |  round(coalesce(common, 0) * 1.0 / (n1.ns + n2.ns - coalesce(common, 0)), 6) AS jac,
       |  CAST(round(coalesce(common, 0) * 1.0 / (n1.ns + n2.ns - coalesce(common, 0)), 6) >= 0.2 AS INTEGER) AS is_dup
       |FROM cand LEFT JOIN common USING (id1, id2)
       |JOIN n n1 ON id1 = n1.doc_id JOIN n n2 ON id2 = n2.doc_id
       |ORDER BY id1, id2""".stripMargin

  /** 30-bit SimHash over distinct tokens: bit j of the signature is the
    * sign of Σ_tokens (±1 by bit j of the token hash). Computed map-side;
    * candidates block on 3×10-bit chunks (hamming ≤ 2 ⇒ some chunk equal,
    * by pigeonhole), verified with bit_count(xor). Token hashes go through
    * an explode → scalar-hash → collect_list barrier so the char fold runs
    * once per token, never per signature bit (see d31's cost note); both the
    * char fold and the 30×|tokens| bit fold are native codegen'd expressions
    * ([[graft.catalyst.PolyHash]], [[graft.catalyst.SimHash30]]). */
  def d32Simhash(s: SparkSession, dir: String): DataFrame = {
    // r15-opt: signatures are MAP-SIDE now — gram_hashes(toks, 1) is the
    // per-token poly_hash array in one codegen'd call (hash-identical,
    // TextKernelExprsSpec k=1 case), feeding simhash30 directly. The old
    // explode → scalar-hash → collect_list barrier shuffled every token
    // hash of the corpus just to regroup rows that started on one line;
    // simhash30 is an order-independent ±1 sum per bit, so the array-order
    // fold is bit-identical to the collect_list-order fold. Guide §2.4
    // (remove shuffles outright): the CORPUS-WIDE hash exchange is gone;
    // parallelized() raises the under-partitioned local scan to session
    // parallelism before the amplified per-token fold (the d302 guard —
    // without it the whole signature pass ran inside 2 scan tasks,
    // measured 2.49 s vs 0.69 s at sf0.1; a no-op at production scale).
    val sigs = graft.SparkSupport.parallelized(Tables.documents(s, dir))
      .selectExpr("doc_id",
        s"simhash30(gram_hashes(array_distinct($tokens), 1)) AS sig")
    val chunks = sigs.selectExpr("doc_id", "sig",
      """explode(transform(sequence(0, 2), c ->
        |  struct(c AS band, concat(CAST(c AS STRING), ':',
        |    CAST(shiftright(sig, c*10) & 1023 AS STRING)) AS chunk))) AS ch""".stripMargin)
      .select(col("doc_id"), col("sig"),
        col("ch.band").as("band"), col("ch.chunk").as("chunk"))
      // both sides of the chunk self-join — persist or the token-hash +
      // 30-bit signature fold runs twice (see d31's cost note)
      .persist(StorageLevel.MEMORY_AND_DISK)
    // r15-opt (guide §2.4): FIRST-COLLISION-BAND emission replaces the
    // distinct. A pair colliding in k ≤ 3 bands used to emit k rows into
    // a corpus-pair-scale distinct exchange (the planted near-dup corpus
    // makes this 1.5M+ result pairs at sf0.1 — the query's one real data
    // movement); both signatures are in hand at the join row, so "this is
    // the smallest matching band" is a pure map-side predicate and each
    // pair survives exactly once. Equivalent to the old
    // distinct-on-(id1,id2,sig1,sig2): sig is functionally determined by
    // doc_id, so distinct kept one row per pair too.
    chunks.as("a").join(chunks.as("b"),
        col("a.chunk") === col("b.chunk") && col("a.doc_id") < col("b.doc_id"))
      .filter(expr(
        """a.band = 0
          | OR (a.band = 1
          |   AND (shiftright(a.sig, 0) & 1023) != (shiftright(b.sig, 0) & 1023))
          | OR (a.band = 2
          |   AND (shiftright(a.sig, 0) & 1023) != (shiftright(b.sig, 0) & 1023)
          |   AND (shiftright(a.sig, 10) & 1023) != (shiftright(b.sig, 10) & 1023))"""
          .stripMargin))
      .select(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"),
        col("a.sig").as("sig1"), col("b.sig").as("sig2"))
      .selectExpr("id1", "id2", "CAST(bit_count(sig1 ^ sig2) AS INTEGER) AS hamming")
      .filter(col("hamming") <= 2)
      .orderBy("id1", "id2")
  }

  val d32Sql: String = {
    val polyDuck = polyDuckOf("t")
    s"""WITH d AS (
       |  SELECT doc_id, list_distinct(string_split(lower(text),' ')) AS toks
       |  FROM documents),
       |sig AS (
       |  SELECT doc_id, list_reduce(list_prepend(CAST(0 AS BIGINT),
       |    list_transform(range(0, 30), j ->
       |      CASE WHEN list_sum(list_transform(toks, t ->
       |          CASE WHEN (($polyDuck) >> j) & 1 = 1 THEN 1 ELSE -1 END)) > 0
       |      THEN (CAST(1 AS BIGINT) << j) ELSE CAST(0 AS BIGINT) END)),
       |    (a, b) -> a + b) AS sig
       |  FROM d),
       |chunks AS (
       |  SELECT doc_id, sig, unnest(list_transform(range(0, 3), c ->
       |    CAST(c AS VARCHAR) || ':' || CAST((sig >> (c*10)) & 1023 AS VARCHAR))) AS chunk
       |  FROM sig),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2,
       |    a.sig AS sig1, b.sig AS sig2
       |  FROM chunks a JOIN chunks b ON a.chunk = b.chunk AND a.doc_id < b.doc_id)
       |SELECT id1, id2, CAST(bit_count(xor(sig1, sig2)) AS INTEGER) AS hamming
       |FROM cand WHERE bit_count(xor(sig1, sig2)) <= 2
       |ORDER BY id1, id2""".stripMargin
  }

  /** Embedding cosine near-dup. Corpus = embeddings ∪ deterministically
    * perturbed copies (the raw table has no near pairs — max cosine 0.51).
    * Blocking: sign-cell of dims 1-3 (2³ cells) so the join is cell-keyed,
    * not all-pairs; cosine is a sequential double fold — bit-identical in
    * both engines. */
  def d33Embedding(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.embeddings(s, dir)
      .selectExpr("vec_id", "transform(embedding, x -> CAST(x AS DOUBLE)) AS v")
    val corpus = base.unionByName(
      base.filter(col("vec_id") % 10 === 0)
        .selectExpr("vec_id + 1000000 AS vec_id",
          "transform(v, (x, i) -> x + 0.001D * CAST(i % 3 AS DOUBLE)) AS v"))
    // the canonical sign-cell quantizer — shared with the IVF family
    // (s39/s193/s206) so d33 blocks on the same cells the posting layout uses
    val cells = corpus.selectExpr("vec_id", "v",
      s"${Similarity.signCellExpr} AS cell")
      // both sides of the cell self-join — persist to scan embeddings once
      .persist(StorageLevel.MEMORY_AND_DISK)
    cells.as("a").join(cells.as("b"),
        col("a.cell") === col("b.cell") && col("a.vec_id") < col("b.vec_id"))
      // native codegen'd expression — bit-identical to the HOF fold
      // (CosineSimilaritySpec) but compiled to a scalar Java loop
      .selectExpr("a.vec_id AS id1", "b.vec_id AS id2",
        "cosine_sim(a.v, b.v) AS cos")
      .filter(col("cos") >= 0.98)
      .selectExpr("id1", "id2", "round(cos, 6) AS cos")
      .orderBy("id1", "id2")
  }

  val d33Sql: String =
    """WITH base AS (
      |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |  FROM embeddings),
      |corpus AS (
      |  SELECT vec_id, v FROM base
      |  UNION ALL
      |  SELECT vec_id + 1000000 AS vec_id,
      |    list_transform(range(1, 65), k -> v[k] + 0.001 * CAST((k-1) % 3 AS DOUBLE)) AS v
      |  FROM base WHERE vec_id % 10 = 0),
      |cells AS (
      |  SELECT vec_id, v,
      |    CAST(CAST(v[1] >= 0 AS INTEGER) AS VARCHAR) ||
      |    CAST(CAST(v[2] >= 0 AS INTEGER) AS VARCHAR) ||
      |    CAST(CAST(v[3] >= 0 AS INTEGER) AS VARCHAR) AS cell
      |  FROM corpus),
      |pairs AS (
      |  SELECT a.vec_id AS id1, b.vec_id AS id2,
      |    list_reduce(list_transform(range(1, 65), k -> a.v[k] * b.v[k]), (x, y) -> x + y) /
      |    (sqrt(list_reduce(list_transform(range(1, 65), k -> a.v[k] * a.v[k]), (x, y) -> x + y)) *
      |     sqrt(list_reduce(list_transform(range(1, 65), k -> b.v[k] * b.v[k]), (x, y) -> x + y))) AS cos
      |  FROM cells a JOIN cells b ON a.cell = b.cell AND a.vec_id < b.vec_id)
      |SELECT id1, id2, round(cos, 6) AS cos FROM pairs
      |WHERE cos >= 0.98 ORDER BY id1, id2""".stripMargin

  /** d326: SEMANTIC dedup — SemDeDup (Abbas et al. 2023, arXiv:2303.09540):
    * cluster the embedding space, compute pairwise cosine WITHIN each
    * cluster only, and prune near-duplicates keeping the member FARTHEST
    * from its cluster centroid (the paper's keep-low-centroid-similarity
    * rule — extreme points preserve more of the data distribution than
    * typical ones). This is the dedup tier ABOVE d33's raw cosine
    * near-dup: d33 finds byte-level perturbed copies; SemDeDup's cluster
    * scoping is what makes the same pairwise test tractable at web scale,
    * because the cluster count is chosen so that Σ|cluster|² stays
    * feasible — the pairwise work is the ALGORITHM, bounded by design,
    * not an accident of small data.
    *
    * Determinism: clusters are the canonical 3-bit sign-cells (standing
    * in for trained k-means centroids, the s39/s193/s206/d33 convention);
    * per-cell centroids use the s122/s132 quantized-mean kernel (integer
    * sums commute — bit-identical cross-engine); centroid similarity is
    * floor-scaled to a BIGINT ccos6 so the keep rule compares on the
    * integer lattice; the prune is pairwise-greedy — x is dropped iff
    * some τ-neighbor y ranks strictly farther from the centroid
    * (ccos6_y < ccos6_x, ties to the smaller vec_id). The group's
    * farthest member always survives, and the rule needs no
    * connected-components pass, so the oracle states it as one EXISTS.
    *
    * Scale shape: centroids are a (cells × dims) aggregate (map-side
    * partial); the scoring join broadcasts |cells| centroid rows; the
    * pairwise stage is cell-keyed (never all-pairs); the keep rule is one
    * aggregation over directed candidate pairs. Corpus = d33's planted
    * near-dup corpus, so the gate prunes real duplicates. */
  def d326Semdedup(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.embeddings(s, dir)
      .selectExpr("vec_id", "transform(embedding, x -> CAST(x AS DOUBLE)) AS v")
    val corpus = base.unionByName(
      base.filter(col("vec_id") % 10 === 0)
        .selectExpr("vec_id + 1000000 AS vec_id",
          "transform(v, (x, i) -> x + 0.001D * CAST(i % 3 AS DOUBLE)) AS v"))
    val cells = corpus.selectExpr("vec_id", "v",
        s"${Similarity.signCellExpr} AS cell")
      .persist(StorageLevel.MEMORY_AND_DISK)
    val cent = cells
      .selectExpr("cell", "posexplode(v) AS (dim, x)")
      .groupBy("cell", "dim")
      .agg(graft.functions.OracleSafe.qmean6(col("x")).as("m"))
      .groupBy("cell")
      .agg(expr("transform(sort_array(collect_list(struct(dim, m))), e -> e.m)")
        .as("cv"))
    val cosToCent = "cosine_sim(cv, v)"
    val scored = cells.join(broadcast(cent), "cell")
      .selectExpr("vec_id", "cell", "v",
        s"CAST(floor(($cosToCent) * 1000000.0D) AS BIGINT) AS ccos6")
      .persist(StorageLevel.MEMORY_AND_DISK)
    // directed τ-neighbor pairs within a cell: a is dropped iff some
    // neighbor b is strictly farther from the centroid (ties to smaller id)
    val dropped = scored.as("a").join(scored.as("b"),
        col("a.cell") === col("b.cell") &&
          col("a.vec_id") =!= col("b.vec_id"))
      .filter(expr("cosine_sim(a.v, b.v) >= 0.98D"))
      .filter(col("b.ccos6") < col("a.ccos6") ||
        (col("b.ccos6") === col("a.ccos6") &&
          col("b.vec_id") < col("a.vec_id")))
      .select(col("a.vec_id").as("vec_id")).distinct()
      .withColumn("drp", lit(1))
    scored.join(dropped, Seq("vec_id"), "left")
      .selectExpr("vec_id", "cell", "ccos6",
        "CAST(CASE WHEN drp IS NULL THEN 1 ELSE 0 END AS INT) AS keep")
      .orderBy("vec_id")
  }

  val d326Sql: String =
    """WITH base AS (
      |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |  FROM embeddings),
      |corpus AS (
      |  SELECT vec_id, v FROM base
      |  UNION ALL
      |  SELECT vec_id + 1000000 AS vec_id,
      |    list_transform(range(1, 65), k -> v[k] + 0.001 * CAST((k-1) % 3 AS DOUBLE)) AS v
      |  FROM base WHERE vec_id % 10 = 0),
      |cells AS (
      |  SELECT vec_id, v,
      |    CAST(CAST(v[1] >= 0 AS INTEGER) AS VARCHAR) ||
      |    CAST(CAST(v[2] >= 0 AS INTEGER) AS VARCHAR) ||
      |    CAST(CAST(v[3] >= 0 AS INTEGER) AS VARCHAR) AS cell
      |  FROM corpus),
      |cent AS (
      |  SELECT cell, i AS dim,
      |    CAST(sum(CAST(floor(v[i] * 1e6 + 0.5) AS BIGINT)) AS DOUBLE)
      |      / count(*) / 1e6 AS m
      |  FROM cells, unnest(generate_series(1, 64)) AS t(i)
      |  GROUP BY 1, 2),
      |cv AS (SELECT cell, list(m ORDER BY dim) AS cv FROM cent GROUP BY 1),
      |scored AS (
      |  SELECT c.vec_id, c.cell, c.v,
      |    CAST(floor((
      |      list_reduce(list_transform(range(1, 65), k -> k2.cv[k] * c.v[k]), (x, y) -> x + y) /
      |      (sqrt(list_reduce(list_transform(range(1, 65), k -> k2.cv[k] * k2.cv[k]), (x, y) -> x + y)) *
      |       sqrt(list_reduce(list_transform(range(1, 65), k -> c.v[k] * c.v[k]), (x, y) -> x + y)))
      |    ) * 1000000.0) AS BIGINT) AS ccos6
      |  FROM cells c JOIN cv k2 USING (cell)),
      |dropped AS (
      |  SELECT DISTINCT a.vec_id
      |  FROM scored a JOIN scored b
      |    ON a.cell = b.cell AND a.vec_id <> b.vec_id
      |  WHERE (list_reduce(list_transform(range(1, 65), k -> a.v[k] * b.v[k]), (x, y) -> x + y) /
      |      (sqrt(list_reduce(list_transform(range(1, 65), k -> a.v[k] * a.v[k]), (x, y) -> x + y)) *
      |       sqrt(list_reduce(list_transform(range(1, 65), k -> b.v[k] * b.v[k]), (x, y) -> x + y)))) >= 0.98
      |    AND (b.ccos6 < a.ccos6 OR (b.ccos6 = a.ccos6 AND b.vec_id < a.vec_id)))
      |SELECT s.vec_id, s.cell, s.ccos6,
      |  CAST(CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END AS INTEGER) AS keep
      |FROM scored s LEFT JOIN dropped d ON s.vec_id = d.vec_id
      |ORDER BY s.vec_id""".stripMargin

  /** d135: INCREMENTAL dedup — the production form of d29. A 100 TB corpus
    * is never re-deduped from scratch: the fingerprint index (distinct
    * content hashes of the existing corpus) is a persisted table, and each
    * ingest batch joins only ITS OWN hashes against it. Every delta doc is
    * classified: `dup_index` (already in the corpus), `dup_delta`
    * (duplicate within the batch — an earlier batch doc wins by id), or
    * `unique` (admitted; its hash is what the index-maintenance write
    * appends).
    *
    * Scale shape: the index side of the join carries ONE 32-byte hash per
    * distinct historical document; the batch side is delta-sized. Nothing
    * rescans history. The same pattern runs the near-dup variants
    * incrementally — persist the minhash band index (d31) instead of the
    * exact hash. */
  def d135IncrementalDedup(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir).select(col("doc_id"),
      md5(col("text")).as("h"))
    val index = d.filter(col("doc_id") % 7 =!= 0).select("h").distinct()
    val delta = d.filter(col("doc_id") % 7 === 0)
    val withinDelta = Window.partitionBy("h").orderBy("doc_id")
    delta
      .join(index.withColumn("in_index", lit(1)), Seq("h"), "left")
      .withColumn("rank_in_delta", row_number().over(withinDelta))
      .select(col("doc_id"),
        when(col("in_index") === 1, "dup_index")
          .when(col("rank_in_delta") > 1, "dup_delta")
          .otherwise("unique").as("status"))
      .orderBy("doc_id")
  }

  val d135Sql: String =
    """WITH d AS (SELECT doc_id, md5(text) AS h FROM documents),
      |idx AS (SELECT DISTINCT h FROM d WHERE doc_id % 7 <> 0),
      |delta AS (SELECT * FROM d WHERE doc_id % 7 = 0)
      |SELECT delta.doc_id,
      |  CASE WHEN idx.h IS NOT NULL THEN 'dup_index'
      |       WHEN row_number() OVER (PARTITION BY delta.h ORDER BY delta.doc_id) > 1
      |         THEN 'dup_delta'
      |       ELSE 'unique' END AS status
      |FROM delta LEFT JOIN idx ON delta.h = idx.h
      |ORDER BY delta.doc_id""".stripMargin

  /** d141: n-gram Jaccard with a STOP-SHINGLE cap — d30 with shingles
    * appearing in more than 10 documents dropped from the index before pair
    * generation. This is the adversarial-robustness form at scale: pair
    * volume is Σ C(bucket, 2), so one boilerplate shingle shared by 10⁶
    * documents creates 5·10¹¹ candidate pairs under d30's plan; the cap
    * bounds every bucket's contribution at C(10,2) and drops exactly the
    * shingles with no discriminative power (the analogue of stopword
    * removal / df-ceiling in TF-IDF). Jaccard is over the CAPPED shingle
    * sets — per-doc sizes come from the same filtered index, so the measure
    * stays an honest set similarity on the reduced universe.
    *
    * On this corpus the cap bites (max bucket 25 at sf0.1): near-dup pairs
    * keep high J (copies share rare shingles too) while incidental overlap
    * via common phrases drops — the oracle checks the exact reduced-universe
    * values. */
  def d141CappedJaccard(s: SparkSession, dir: String): DataFrame = {
    val buckets = shingleIndex(s, dir)
      .groupBy("h").agg(sort_array(collect_list(col("doc_id"))).as("ids"))
      .filter(size(col("ids")) <= 10)
      // feeds sizes AND pair explosion; released by the caller's
      // clearCache() — see the lifetime note at s132KmeansStep
      .persist(StorageLevel.MEMORY_AND_DISK)
    val n = buckets.selectExpr("explode(ids) AS doc_id")
      .groupBy("doc_id").agg(count(lit(1)).as("ns"))
    val pairs = buckets.selectExpr(s"$pairExplodeExpr AS p")
      .groupBy(col("p.id1").as("id1"), col("p.id2").as("id2"))
      .agg(count(lit(1)).as("common"))
    pairs
      .transform(jaccardScored(n))
      .filter(col("jac") >= 0.2)
      .select("id1", "id2", "common", "jac")
      .orderBy("id1", "id2")
  }

  val d141Sql: String =
    s"""WITH $shingleIndexSql,
       |keep AS (SELECT h FROM s GROUP BY h HAVING count(*) <= 10),
       |sc AS (SELECT s.doc_id, s.h FROM s JOIN keep USING (h)),
       |n AS (SELECT doc_id, count(*) AS ns FROM sc GROUP BY doc_id),
       |pairs AS (
       |  SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS common
       |  FROM sc a JOIN sc b ON a.h = b.h AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT id1, id2, common,
       |  round(common * 1.0 / (n1.ns + n2.ns - common), 6) AS jac
       |FROM pairs JOIN n n1 ON id1 = n1.doc_id JOIN n n2 ON id2 = n2.doc_id
       |WHERE round(common * 1.0 / (n1.ns + n2.ns - common), 6) >= 0.2
       |ORDER BY id1, id2""".stripMargin

  /** d142: INCREMENTAL MinHash+LSH — d31 run the way a 100 TB corpus
    * actually runs it (SURVEY §9.4, the d135 pattern lifted to near-dup):
    * the band index of the existing corpus is a PERSISTED artifact, and an
    * ingest batch (here doc_id % 7 = 0, mirroring d135's split) generates
    * candidates by (a) probing its own band keys against that index
    * (delta×history equi-join) and (b) pairing within its own band buckets
    * (delta×delta C(n,2) explosion). History NEVER self-joins — no
    * history×history pair is ever generated, so each ingest costs
    * O(delta × bands), not O(corpus²) or even O(corpus × bands).
    *
    * Verification is [[scoredOnArrays]] over [[docHashArrays]], scoring
    * Jaccard exactly as d31 — the admitted batch's bands are what the
    * index-maintenance write would append. `src` labels which side each
    * pair hit. */
  def d142IncrementalMinhash(s: SparkSession, dir: String): DataFrame = {
    val docs = docHashArrays(s, dir)
    // the history side comes from the PERSISTED band index — the premise
    // made literal (round 4; d185 shares the artifact): history signatures
    // are never recomputed in-query, only the batch pays minhash+banding.
    // bandsOf uses the same minhash16/band arithmetic that built the
    // artifact, so keys join exactly.
    val histIndex = historyBandIndex(s, dir)
      .filter(col("doc_id") % 7 =!= 0)
      .groupBy("band_key")
      .agg(sort_array(collect_list(col("doc_id"))).as("hist_ids"))
      .filter(size(col("hist_ids")) <= BandBucketCap) // see BandBucketCap
    val deltaBands = bandsOf(docs.filter(col("doc_id") % 7 === 0))
      .persist(StorageLevel.MEMORY_AND_DISK) // probe side + delta-delta side
    val deltaHist = deltaBands.join(histIndex, "band_key")
      .selectExpr("doc_id AS did", "explode(hist_ids) AS hid")
      .selectExpr("least(did, hid) AS id1", "greatest(did, hid) AS id2")
    val cand = deltaHist.unionByName(bucketPairs(deltaBands)).distinct()
    scoredOnArrays(cand, docs, identity)
      .withColumn("src",
        when(col("id1") % 7 === 0 && col("id2") % 7 === 0, "delta_delta")
          .otherwise("delta_hist"))
      .select("id1", "id2", "jac", "is_dup", "src")
      .orderBy("id1", "id2")
  }

  val d142Sql: String = {
    // hk / dk mirror the engine's two BandBucketCap sites: the history
    // index bucket (delta×history probes skip oversized HISTORY buckets)
    // and the delta bucket (delta×delta pairs skip oversized DELTA
    // buckets) — same constant, same semantics by construction
    s"""WITH $bandCtes,
       |hk AS (
       |  SELECT band_key FROM bands WHERE doc_id % 7 <> 0
       |  GROUP BY 1 HAVING count(*) <= $BandBucketCap),
       |dk AS (
       |  SELECT band_key FROM bands WHERE doc_id % 7 = 0
       |  GROUP BY 1 HAVING count(*) <= $BandBucketCap),
       |cand AS (
       |  SELECT DISTINCT least(a.doc_id, b.doc_id) AS id1,
       |    greatest(a.doc_id, b.doc_id) AS id2
       |  FROM bands a JOIN bands b ON a.band_key = b.band_key
       |  JOIN hk ON a.band_key = hk.band_key
       |  WHERE a.doc_id % 7 = 0 AND b.doc_id % 7 <> 0
       |  UNION
       |  SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
       |  FROM bands a JOIN bands b
       |    ON a.band_key = b.band_key AND a.doc_id < b.doc_id
       |  JOIN dk ON a.band_key = dk.band_key
       |  WHERE a.doc_id % 7 = 0 AND b.doc_id % 7 = 0),
       |n AS (SELECT doc_id, count(*) AS ns FROM s GROUP BY doc_id),
       |common AS (
       |  SELECT id1, id2, count(*) AS common
       |  FROM cand JOIN s sa ON sa.doc_id = id1 JOIN s sb ON sb.doc_id = id2
       |  WHERE sa.h = sb.h GROUP BY 1, 2)
       |SELECT id1, id2,
       |  round(coalesce(common, 0) * 1.0 / (n1.ns + n2.ns - coalesce(common, 0)), 6) AS jac,
       |  CAST(round(coalesce(common, 0) * 1.0 / (n1.ns + n2.ns - coalesce(common, 0)), 6) >= 0.2 AS INTEGER) AS is_dup,
       |  CASE WHEN id1 % 7 = 0 AND id2 % 7 = 0 THEN 'delta_delta'
       |       ELSE 'delta_hist' END AS src
       |FROM cand LEFT JOIN common USING (id1, id2)
       |JOIN n n1 ON id1 = n1.doc_id JOIN n n2 ON id2 = n2.doc_id
       |ORDER BY id1, id2""".stripMargin
  }

  /** Band-key derivation over a 16-long minhash column `mh` (4 bands of
    * 4, "<band>:<h-h-h-h>") — ONE definition shared by the batch index
    * build ([[bandsOf]]) and the STREAMING admission probe
    * ([[graft.streaming.EventStreams.bandKeys]]): the stream-static join
    * matches on these strings, so a drifted copy would silently return
    * zero candidates and admit every near-dup as clean. */
  private[graft] val bandKeyExpr: String =
    """explode(transform(sequence(0, 3), b -> concat(
      |  CAST(b AS STRING), ':',
      |  concat_ws('-', transform(slice(mh, b*4 + 1, 4),
      |    x -> CAST(x AS STRING)))))) AS band_key""".stripMargin

  /** LSH bands (doc_id, band_key) of per-doc hash arrays (doc_id, hs) —
    * [[docHashArrays]] or a re-keyed slice of it: the minhash16 signature
    * of each array cut into 4 bands of 4. minhash16 is a min-fold, so the
    * signature does not depend on element order and banding needs no
    * per-doc regroup: it is one map-side projection. */
  private[operators] def bandsOf(arrs: DataFrame): DataFrame =
    arrs.selectExpr("doc_id", "minhash16(hs) AS mh")
      .selectExpr("doc_id", bandKeyExpr)

  /** Within-batch candidates: C(n,2) ordered pairs (id1, id2) over each
    * band bucket of at most [[BandBucketCap]] docs. */
  private[operators] def bucketPairs(bands: DataFrame): DataFrame =
    bands.groupBy("band_key")
      .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
      .filter(size(col("ids")) <= BandBucketCap) // see BandBucketCap
      .selectExpr(s"$pairExplodeExpr AS p")
      .select(col("p.id1").as("id1"), col("p.id2").as("id2"))

  /** The re-ingested batch `doc_id % m = 0` of hash arrays `docs`, under
    * fresh keys doc_id + `shift` (the re-crawl case: content returns
    * unchanged under a new key, so its arrays need no second tokenize). */
  private[operators] def rekeyed(docs: DataFrame, m: Int, shift: Long): DataFrame =
    docs.filter(col("doc_id") % m === 0)
      .select((col("doc_id") + shift).as("doc_id"), col("hs"))

  /** Verify candidate pairs (id1, id2) on [[docHashArrays]] `docs`: each
    * end's sorted array and size join in by broadcast on `key(id)` (a
    * re-keyed batch id maps back to its original doc — content unchanged,
    * only the key moved), and sorted_multiset_common counts the common
    * shingles exactly (multiplicities included — SortedMultisetCommonSpec)
    * in one codegen'd merge per pair; no (|cand|·n̄)-row posting join.
    * Adds common, jac and is_dup (jac ≥ 0.2), as d31 scores them. */
  private def scoredOnArrays(cand: DataFrame, docs: DataFrame,
      key: Column => Column): DataFrame = {
    def end(i: Int) = broadcast(docs.select(col("doc_id").as(s"k$i"),
      col("hs").as(s"h$i"), col("ns").as(s"n$i")))
    cand
      .join(end(1), key(col("id1")) === col("k1"))
      .join(end(2), key(col("id2")) === col("k2"))
      .withColumn("common", expr("sorted_multiset_common(h1, h2)"))
      .withColumn("jac", jaccardOf)
      .withColumn("is_dup", (col("jac") >= 0.2).cast("int"))
  }

  private[graft] val BandIdxLayout = graft.SparkSupport.Layout("band_idx", 2)
  /** The corpus LSH band index (doc_id, band_key) as a PERSISTED artifact —
    * what d142 calls "the band index of the existing corpus is a persisted
    * table", made literal: built once per corpus dir to scratch parquet
    * ([[bandsOf]] over [[docHashArrays]]: one map-side pass, no shuffle),
    * read back columnar by every ingest batch and, in place, as the
    * history generation of d189's admitted index. This is the
    * index-maintenance contract at 100 TB: no later batch ever recomputes
    * history's signatures, and no admit ever copies them. */
  private[operators] def historyBandIndex(s: SparkSession, dir: String): DataFrame = {
    val path = graft.SparkSupport.layoutArtifact(BandIdxLayout, dir) { p =>
      bandsOf(docHashArrays(s, dir)).write.mode("overwrite").parquet(p)
    }
    Tables.parquet(s, path)
  }

  /** d185: incremental MinHash+LSH across a TRUE snapshot boundary — d142's
    * pattern run the way consecutive crawls actually meet (SURVEY §9b
    * carried item): the history is the ENTIRE corpus, its band index a
    * persisted cross-JVM artifact ([[historyBandIndex]]), and the ingest
    * batch is a RE-KEYED second snapshot (every doc_id ≡ 0 mod 3
    * re-ingested under id + 10⁷ — the re-crawl case where content returns
    * under a fresh key, so exact-id dedup is blind to it). Candidates:
    * batch bands probe the persisted index (delta×history equi-join) plus
    * within-batch band buckets (delta×delta); history never self-joins.
    * The batch's bands come from its slice of [[docHashArrays]] re-keyed
    * (content unchanged, so no second tokenize), and verification is
    * [[scoredOnArrays]] with id % 10⁷ resolving each endpoint to its
    * original doc's array. Every re-ingested doc must surface its
    * original at jac = 1.0 (asserted in IncrementalSpec) alongside any
    * genuine near-dups — the admitted-batch bands are what the
    * index-maintenance write appends.
    *
    * Scale shape: batch work is O(delta × bands) probes + Σ C(batch
    * bucket, 2) pairs; the only history-sized reads are the two persisted
    * columnar artifacts, the arrays broadcast against the candidate list. */
  def d185SnapshotIncremental(s: SparkSession, dir: String): DataFrame = {
    val docs = docHashArrays(s, dir)
    val histBands = historyBandIndex(s, dir)
      .withColumnRenamed("doc_id", "hist_id")
    val deltaBands = bandsOf(rekeyed(docs, 3, 10000000L))
      .persist(StorageLevel.MEMORY_AND_DISK) // probe side + delta-delta side
    val deltaHist = deltaBands.join(histBands, "band_key")
      .select(col("hist_id").as("id1"), col("doc_id").as("id2"))
    val cand = deltaHist.unionByName(bucketPairs(deltaBands)).distinct()
    scoredOnArrays(cand, docs, _ % 10000000L)
      .withColumn("src",
        when(col("id1") >= 10000000L, "delta_delta").otherwise("delta_hist"))
      .select("id1", "id2", "jac", "is_dup", "src")
      .orderBy("id1", "id2")
  }

  val d185Sql: String = {
    s"""WITH $bandCtes,
       |dbands AS (
       |  SELECT doc_id + 10000000 AS doc_id, band_key
       |  FROM bands WHERE doc_id % 3 = 0),
       |ddk AS (
       |  SELECT band_key FROM dbands
       |  GROUP BY 1 HAVING count(*) <= $BandBucketCap),
       |cand AS (
       |  SELECT b.doc_id AS id1, a.doc_id AS id2
       |  FROM dbands a JOIN bands b ON a.band_key = b.band_key
       |  UNION
       |  SELECT a.doc_id AS id1, b.doc_id AS id2
       |  FROM dbands a JOIN dbands b
       |    ON a.band_key = b.band_key AND a.doc_id < b.doc_id
       |  JOIN ddk ON a.band_key = ddk.band_key),
       |su AS (
       |  SELECT doc_id, h FROM s
       |  UNION ALL
       |  SELECT doc_id + 10000000 AS doc_id, h FROM s WHERE doc_id % 3 = 0),
       |n AS (SELECT doc_id, count(*) AS ns FROM su GROUP BY doc_id),
       |common AS (
       |  SELECT id1, id2, count(*) AS common
       |  FROM cand JOIN su sa ON sa.doc_id = id1 JOIN su sb ON sb.doc_id = id2
       |  WHERE sa.h = sb.h GROUP BY 1, 2)
       |SELECT id1, id2,
       |  round(coalesce(common, 0) * 1.0 / (n1.ns + n2.ns - coalesce(common, 0)), 6) AS jac,
       |  CAST(round(coalesce(common, 0) * 1.0 / (n1.ns + n2.ns - coalesce(common, 0)), 6) >= 0.2 AS INTEGER) AS is_dup,
       |  CASE WHEN id1 >= 10000000 THEN 'delta_delta' ELSE 'delta_hist' END AS src
       |FROM cand LEFT JOIN common USING (id1, id2)
       |JOIN n n1 ON id1 = n1.doc_id JOIN n n2 ON id2 = n2.doc_id
       |ORDER BY id1, id2""".stripMargin
  }

  private[graft] val BandIdxG2Layout = graft.SparkSupport.Layout("band_idx_g2", 2)
  /** The WRITE side of the band-index lifecycle (SURVEY §9d round-6
    * candidate 1): d142/d185 prove the PROBE side (an ingest batch never
    * rescans history); this artifact is the index MAINTENANCE that makes
    * that probe possible across batches — admit a batch by APPENDING its
    * bands as new generations ([[admitGenerations]]), then COMPACT the
    * accumulated small generations ([[compactGenerations]], the q113
    * small-file pattern applied to the dedup index).
    *
    * The artifact root holds only `compact/` (and `_SUCCESS`): the
    * admitted batch (d185's re-keyed snapshot, doc_id % 3 = 0 under
    * id + 10⁷) folded into one band_key-clustered generation. History is
    * not part of it: readers consume [[historyBandIndex]] IN PLACE ∪
    * `compact/`, so neither an admit nor a compact ever rewrites history —
    * at 100 TB the write amplification is O(batch), not O(corpus). The
    * staged generations are deleted by the compaction that folded them,
    * inside the build's temp dir, so no reader ever sees them (the
    * tmp-then-rename protocol of [[graft.SparkSupport.layoutArtifact]]). */
  private[operators] def admittedBandIndex(s: SparkSession, dir: String): String =
    graft.SparkSupport.layoutArtifact(BandIdxG2Layout, dir) { p =>
      admitGenerations(s, dir, p)
      compactGenerations(s, p)
      // multi-directory artifact: layoutArtifact's completeness contract
      // wants a root _SUCCESS, landed only once compaction is in place
      new java.io.File(p, "_SUCCESS").createNewFile(): Unit
    }

  private val stagedGenerations = (0 to 2).map(g => s"delta_gen$g")

  /** Admit d185's re-keyed batch under `root` as three micro-batch
    * generations `delta_gen{0,1,2}/` — the many-small-files state a
    * streaming admit loop actually produces. */
  private[operators] def admitGenerations(s: SparkSession, dir: String,
      root: String): Unit = {
    val g1 = bandsOf(rekeyed(docHashArrays(s, dir), 3, 10000000L))
    stagedGenerations.zipWithIndex.foreach { case (gen, g) =>
      g1.filter(pmod(floor(col("doc_id") / 3), lit(3)) === g)
        .write.parquet(s"$root/$gen")
    }
  }

  /** Fold the staged generations under `root` into one `compact/`
    * generation (files of up to ~128 MB, band_key-clustered and sorted
    * within partitions so band probes touch contiguous row groups), then
    * delete the generations it folded. */
  private[operators] def compactGenerations(s: SparkSession, root: String): Unit = {
    val staged = stagedGenerations.map(g => s"$root/$g")
    val bytes = staged.map(g =>
      org.apache.commons.io.FileUtils.sizeOfDirectory(new java.io.File(g))).sum
    s.read.schema("doc_id BIGINT, band_key STRING").parquet(staged: _*)
      .repartition((bytes >> 27).toInt + 1, col("band_key"))
      .sortWithinPartitions("band_key")
      .write.parquet(s"$root/compact")
    staged.foreach(g =>
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(g)))
  }

  /** d189: probe the ADMITTED-AND-COMPACTED index with a SECOND batch —
    * the gate that proves the [[admittedBandIndex]] write lifecycle
    * round-trips. Batch 2 (doc_id % 5 = 0 re-keyed under id + 2·10⁷)
    * generates candidates exactly as d185 does, but its index probe reads
    * [[historyBandIndex]] ∪ `compact/` — so any hit on an id in
    * [10⁷, 2·10⁷) can only have come through the append→compact path
    * (batch 1's bands survive admission and compaction, or those pairs
    * vanish and the oracle catches it). Docs with doc_id % 15 = 0 are in
    * BOTH batches and must surface their cross-generation twin at
    * jac = 1.0. `src` labels which index generation served each pair:
    * delta_hist (history), delta_gen1 (the compacted admit), delta_delta
    * (within batch 2).
    *
    * Scale shape: identical to d185 — O(batch2 × bands) probes plus
    * Σ C(batch2 bucket, 2) pairs; the index reads are columnar, and every
    * band and verification input is a slice of the one [[docHashArrays]]
    * layout. */
  def d189AdmitCompact(s: SparkSession, dir: String): DataFrame = {
    val docs = docHashArrays(s, dir)
    val index = historyBandIndex(s, dir)
      .unionByName(Tables.parquet(s, s"${admittedBandIndex(s, dir)}/compact"))
      .withColumnRenamed("doc_id", "idx_id")
    val b2Bands = bandsOf(rekeyed(docs, 5, 20000000L))
      .persist(StorageLevel.MEMORY_AND_DISK) // probe side + delta-delta side
    val probe = b2Bands.join(index, "band_key")
      .select(col("idx_id").as("id1"), col("doc_id").as("id2"))
    val cand = probe.unionByName(bucketPairs(b2Bands)).distinct()
    // all three key ranges (history, admitted gen1 at +10⁷, batch 2 at
    // +2·10⁷) carry their original doc's shingle multiset
    scoredOnArrays(cand, docs, _ % 10000000L)
      .withColumn("src",
        when(col("id1") >= 20000000L, "delta_delta")
          .when(col("id1") >= 10000000L, "delta_gen1")
          .otherwise("delta_hist"))
      .select("id1", "id2", "jac", "is_dup", "src")
      .orderBy("id1", "id2")
  }

  val d189Sql: String = {
    s"""WITH $bandCtes,
       |idx AS (
       |  SELECT doc_id, band_key FROM bands
       |  UNION ALL
       |  SELECT doc_id + 10000000 AS doc_id, band_key
       |  FROM bands WHERE doc_id % 3 = 0),
       |b2 AS (
       |  SELECT doc_id + 20000000 AS doc_id, band_key
       |  FROM bands WHERE doc_id % 5 = 0),
       |b2k AS (
       |  SELECT band_key FROM b2
       |  GROUP BY 1 HAVING count(*) <= $BandBucketCap),
       |cand AS (
       |  SELECT i.doc_id AS id1, a.doc_id AS id2
       |  FROM b2 a JOIN idx i ON a.band_key = i.band_key
       |  UNION
       |  SELECT a.doc_id AS id1, b.doc_id AS id2
       |  FROM b2 a JOIN b2 b
       |    ON a.band_key = b.band_key AND a.doc_id < b.doc_id
       |  JOIN b2k ON a.band_key = b2k.band_key),
       |su AS (
       |  SELECT doc_id, h FROM s
       |  UNION ALL
       |  SELECT doc_id + 10000000 AS doc_id, h FROM s WHERE doc_id % 3 = 0
       |  UNION ALL
       |  SELECT doc_id + 20000000 AS doc_id, h FROM s WHERE doc_id % 5 = 0),
       |n AS (SELECT doc_id, count(*) AS ns FROM su GROUP BY doc_id),
       |common AS (
       |  SELECT id1, id2, count(*) AS common
       |  FROM cand JOIN su sa ON sa.doc_id = id1 JOIN su sb ON sb.doc_id = id2
       |  WHERE sa.h = sb.h GROUP BY 1, 2)
       |SELECT id1, id2,
       |  round(coalesce(common, 0) * 1.0 / (n1.ns + n2.ns - coalesce(common, 0)), 6) AS jac,
       |  CAST(round(coalesce(common, 0) * 1.0 / (n1.ns + n2.ns - coalesce(common, 0)), 6) >= 0.2 AS INTEGER) AS is_dup,
       |  CASE WHEN id1 >= 20000000 THEN 'delta_delta'
       |       WHEN id1 >= 10000000 THEN 'delta_gen1'
       |       ELSE 'delta_hist' END AS src
       |FROM cand LEFT JOIN common USING (id1, id2)
       |JOIN n n1 ON id1 = n1.doc_id JOIN n n2 ON id2 = n2.doc_id
       |ORDER BY id1, id2""".stripMargin
  }

  private[graft] val DupPairsLayout = graft.SparkSupport.Layout("dup_pairs", 1)
  /** Confirmed near-dup pairs (d31's verified output, is_dup rows) as a
    * PERSISTED corpus artifact — the same layout premise as [[shingleIndex]]
    * and d142's band index: the dedup stage's pair list is a table the
    * downstream curation queries (d143's leakage audit, d144's canonical
    * selection) consume, not a per-query derivation. Built once per corpus
    * by the full d31 pipeline, then read back as columnar (id1, id2, jac). */
  private[operators] def dupPairs(s: SparkSession, dir: String): DataFrame = {
    val path = graft.SparkSupport.layoutArtifact(DupPairsLayout, dir) { p =>
      d31MinhashLsh(s, dir).filter(col("is_dup") === 1)
        .select("id1", "id2", "jac")
        .write.mode("overwrite").parquet(p)
    }
    Tables.parquet(s, path)
  }

  private[graft] val ExactPairsLayout = graft.SparkSupport.Layout("exact_pairs", 1)
  /** d30's exact-Jaccard pair list (J ≥ 0.2) as a PERSISTED corpus
    * artifact — the ground-truth twin of [[dupPairs]]: index-quality
    * evaluations (d162's recall denominator) consume the truth table, not
    * a per-query re-derivation of the full bucket join. d30 itself still
    * computes live as the detection gate. */
  private[operators] def exactPairs(s: SparkSession, dir: String): DataFrame = {
    val path = graft.SparkSupport.layoutArtifact(ExactPairsLayout, dir) { p =>
      d30NgramJaccard(s, dir).select("id1", "id2", "jac")
        .write.mode("overwrite").parquet(p)
    }
    Tables.parquet(s, path)
  }

  /** d143: train/test split LEAKAGE AUDIT — the check a training pipeline
    * runs after splitting: near-duplicate pairs whose members land in
    * DIFFERENT splits leak evaluation data into training. Composition of
    * two verified kernels (q138-style): q75's deterministic hash split
    * assigns each doc its split; d31's MinHash+LSH near-dup detection
    * supplies the pairs; the audit keeps confirmed duplicates that cross a
    * split boundary. Empty output = clean split.
    *
    * Scale shape: inherits d31's blocking (no all-pairs path) through the
    * [[dupPairs]] layout (pairs are the dedup stage's PERSISTED artifact,
    * built once per corpus); the split assignment is map-side arithmetic on
    * the pair rows, so the audit is one scan of the pair table. */
  def d143SplitLeakage(s: SparkSession, dir: String): DataFrame = {
    // the cross-split predicate is INTEGER bucket arithmetic: each pair row
    // pays two modular CASEs, not two string constructions + a compare;
    // labels render only in the final projection over the surviving rows.
    // split hash: the ONE shared definition (PortableHash.lcgSplit — its
    // scaladoc carries the id-domain bound)
    def bucketOf(c: String): String = {
      val h = graft.functions.PortableHash.lcgSplit(c)
      s"""CASE WHEN $h < 80 THEN 0
         |     WHEN $h < 90 THEN 1
         |     ELSE 2 END""".stripMargin
    }
    dupPairs(s, dir)
      .withColumn("b1", expr(bucketOf("id1")))
      .withColumn("b2", expr(bucketOf("id2")))
      .filter(col("b1") =!= col("b2"))
      .selectExpr("id1", "id2", "jac",
        "element_at(array('train', 'val', 'test'), b1 + 1) AS split1",
        "element_at(array('train', 'val', 'test'), b2 + 1) AS split2")
      .orderBy("id1", "id2")
  }

  val d143Sql: String = {
    val h1 = graft.functions.PortableHash.lcgSplitDuck("id1")
    val sp1 =
      s"""CASE WHEN $h1 < 80 THEN 'train'
         |     WHEN $h1 < 90 THEN 'val'
         |     ELSE 'test' END""".stripMargin
    val sp2 = sp1.replace("id1", "id2")
    s"""WITH base AS ($d31Sql)
       |SELECT id1, id2, jac, $sp1 AS split1, $sp2 AS split2
       |FROM base
       |WHERE is_dup = 1 AND ($sp1) <> ($sp2)
       |ORDER BY id1, id2""".stripMargin
  }

  // ---------------------------------------------------------------- d293

  /** d293: TEMPLATE-SKELETON dedup — the cheap map-side catch for
    * TEMPLATED near-duplicates: the same boilerplate re-instantiated with
    * different serial numbers, ticket ids, timestamps (autogenerated
    * pages, form letters, log-derived text). Exact dedup (d29) is blind
    * to them (raw bytes differ); shingle Jaccard (d30) catches them but
    * pays the inverted-index shuffle. The skeleton — lowercase, digits
    * masked to '#', whitespace collapsed — is a pure per-row projection,
    * so templated families collapse under a hash-groupBy at exact-dedup
    * cost: one shuffle keyed by the 16-byte skeleton hash. The planted
    * families here differ ONLY in digits (two serials per seed doc), the
    * exact shape the operator exists for; `n_raw` > 1 distinguishes a
    * true template family from byte-identical copies.
    *
    * Scale: the real pipeline ordering is skeleton dedup FIRST (removes
    * the templated mass at map cost), then MinHash over the survivors —
    * the funnel shape q138/d171 compose. */
  def d293SkeletonDedup(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
    def variant(offset: Long, serialShift: Int) =
      d.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + offset).as("doc_id"),
          concat(col("text"), lit(" ticket "),
            lpad(((col("doc_id") + serialShift) % 1000000).cast("string"),
              6, "0")).as("text"))
    val corpus = d.select("doc_id", "text")
      .unionByName(variant(1000000L, 0))
      .unionByName(variant(2000000L, 13))
    corpus
      .withColumn("skeleton",
        regexp_replace(regexp_replace(lower(col("text")), "[0-9]", "#"),
          " +", " "))
      .groupBy(md5(col("skeleton")).as("skeleton_md5"))
      .agg(min(col("doc_id")).as("keep_id"),
        count(lit(1)).as("n_members"),
        countDistinct(md5(col("text"))).as("n_raw"))
      .filter(col("n_members") >= 2)
      .select("keep_id", "n_members", "n_raw", "skeleton_md5")
      .orderBy("keep_id")
  }

  val d293Sql: String =
    """WITH corpus AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 1000000,
      |    text || ' ticket ' || lpad(CAST(doc_id % 1000000 AS VARCHAR), 6, '0')
      |  FROM documents WHERE doc_id % 10 = 0
      |  UNION ALL
      |  SELECT doc_id + 2000000,
      |    text || ' ticket ' ||
      |      lpad(CAST((doc_id + 13) % 1000000 AS VARCHAR), 6, '0')
      |  FROM documents WHERE doc_id % 10 = 0),
      |sk AS (
      |  SELECT doc_id, md5(text) AS raw_md5,
      |    md5(regexp_replace(regexp_replace(lower(text), '[0-9]', '#', 'g'),
      |      ' +', ' ', 'g')) AS skeleton_md5
      |  FROM corpus)
      |SELECT min(doc_id) AS keep_id, count(*) AS n_members,
      |  count(DISTINCT raw_md5) AS n_raw, skeleton_md5
      |FROM sk GROUP BY skeleton_md5 HAVING count(*) >= 2
      |ORDER BY keep_id""".stripMargin

  private[graft] val Gram8SharedLayout = graft.SparkSupport.Layout("gram8_shared", 1)
  /** d302: EXACT-SUBSTRING span dedup — the repeated-passage surface of
    * Lee et al. 2022 ("Deduplicating Training Data Makes Language Models
    * Better"), whose suffix-array formulation doesn't distribute; the
    * scalable equivalent anchors on fixed-K token windows: every K=8-token
    * window is poly-hashed with its position, windows whose hash occurs in
    * ≥2 distinct docs are flagged, and each doc's flagged positions merge
    * into maximal spans (two flags ≤K apart are one repeated passage,
    * since their windows overlap or abut). Per doc: flagged window count,
    * maximal-span count, and the union token coverage — the numbers a
    * span-trimming pass (splice the spans out, keep the prose between)
    * would act on, the same copy-on-write splice t219 applies to
    * contamination spans.
    *
    * Scale: one shuffle keyed by window hash for the document-frequency
    * cut, one hash-keyed join back, one doc-keyed fold — work scales with
    * corpus token count, never corpus². Grams shared by >64 docs are
    * DROPPED (both engines): boilerplate phrases would otherwise fan the
    * join out by df per position (the d141 stop-shingle cap, applied to
    * windows); a production trimmer treats those as template mass for
    * [[d293SkeletonDedup]] instead. The span merge is a per-doc
    * higher-order fold over the sorted position array — no window
    * function, nothing corpus-scale in one task (q207 stance). */
  def d302SubstringSpans(s: SparkSession, dir: String): DataFrame = {
    val K = 8
    val toks = graft.functions.PortableHash.tokens
    // r15-opt: the per-window slice+concat_ws+poly_hash lambda (interpreted
    // — HOFs are CodegenFallback) is now the native one-pass gram_hashes
    // kernel (hash-identical, TextKernelExprsSpec); per-token fold values
    // compose per gram in O(K) modular steps, no per-window allocations.
    // per-token window hashing is the amplified stage — parallelize the
    // narrow scan first (no-op at scale, SparkSupport.parallelized)
    val grams = graft.SparkSupport.parallelized(Tables.documents(s, dir))
      .filter(expr(s"size($toks) >= $K"))
      .selectExpr("doc_id", s"posexplode(gram_hashes($toks, $K)) AS (p, h)")
      .selectExpr("doc_id", "p + 1 AS pos", "h")
    // r16-opt (VERDICT r15 item 5): the shared-window hash set (the
    // document-frequency cut of the 8-gram index) is a PERSISTED corpus
    // layout, like Curation's 5-gram gram_idx — index statistics, not query
    // results. The query used to reference the un-persisted gram stream
    // TWICE (df-cut aggregate + join back), re-running the gram kernel per
    // branch; now the stream is consumed exactly once and the corpus-wide
    // countDistinct exchange leaves the query.
    val sharedPath = graft.SparkSupport.layoutArtifact(Gram8SharedLayout, dir) { p =>
      graft.SparkSupport.parallelized(Tables.documents(s, dir))
        .filter(expr(s"size($toks) >= $K"))
        .selectExpr("doc_id", s"explode(gram_hashes($toks, $K)) AS h")
        .groupBy("h")
        .agg(countDistinct(col("doc_id")).as("nd"))
        .filter(col("nd").between(2, 64))
        .select("h")
        .write.mode("overwrite").parquet(p)
    }
    val shared = Tables.parquet(s, sharedPath)
    grams.join(shared, "h")
      .groupBy("doc_id")
      .agg(sort_array(collect_list(col("pos"))).as("ps"))
      .selectExpr("doc_id", "CAST(size(ps) AS BIGINT) AS n_flagged",
        s"""CAST(size(filter(${seqAsc("1", "size(ps)")},
           |  i -> i = 1 OR element_at(ps, i) > element_at(ps, i - 1) + $K))
           |  AS BIGINT) AS n_spans""".stripMargin,
        s"""aggregate(${seqAsc("1", "size(ps)")}, CAST(0 AS BIGINT),
           |  (acc, i) -> acc + least(CAST($K AS BIGINT),
           |    CAST(IF(i < size(ps), element_at(ps, i + 1) - element_at(ps, i),
           |      $K) AS BIGINT))) AS dup_tokens""".stripMargin)
      .orderBy("doc_id")
  }

  val d302Sql: String =
    """WITH t AS (
      |  SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents
      |  WHERE len(string_split(lower(text), ' ')) >= 8),
      |g AS (
      |  SELECT doc_id, i AS pos,
      |    list_reduce(list_prepend(CAST(7 AS BIGINT),
      |      list_transform(string_split(array_to_string(toks[i:i+7], ' '), ''),
      |        c -> CAST(ascii(c) AS BIGINT))),
      |      (acc, x) -> (acc * 31 + x) % 1000000007) AS h
      |  FROM t, unnest(range(1, len(toks) - 6)) AS u(i)),
      |d AS (
      |  SELECT h FROM g GROUP BY h
      |  HAVING count(DISTINCT doc_id) BETWEEN 2 AND 64),
      |f AS (
      |  SELECT doc_id, list_sort(list(pos)) AS ps
      |  FROM g JOIN d USING (h) GROUP BY doc_id)
      |SELECT doc_id, CAST(len(ps) AS BIGINT) AS n_flagged,
      |  CAST(len(list_filter(range(1, len(ps) + 1),
      |    i -> i = 1 OR ps[i] > ps[i - 1] + 8)) AS BIGINT) AS n_spans,
      |  list_reduce(list_transform(range(1, len(ps) + 1),
      |    i -> least(CAST(8 AS BIGINT),
      |      CAST(CASE WHEN i < len(ps) THEN ps[i + 1] - ps[i] ELSE 8 END
      |        AS BIGINT))), (a, b) -> a + b) AS dup_tokens
      |FROM f ORDER BY doc_id""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "d302_substring_spans"     -> d302SubstringSpans,
    "d293_skeleton_dedup"      -> d293SkeletonDedup,
    "d143_split_leakage"       -> d143SplitLeakage,
    "d142_incremental_minhash" -> d142IncrementalMinhash,
    "d185_snapshot_incremental" -> d185SnapshotIncremental,
    "d189_admit_compact"       -> d189AdmitCompact,
    "d135_incremental_dedup"  -> d135IncrementalDedup,
    "d141_capped_jaccard"     -> d141CappedJaccard,
    "d29_dedup_exact"         -> d29Exact,
    "d30_dedup_ngram_jaccard" -> d30NgramJaccard,
    "d31_dedup_minhash_lsh"   -> d31MinhashLsh,
    "d32_dedup_simhash"       -> d32Simhash,
    "d33_dedup_embedding"     -> d33Embedding,
    "d326_semdedup"           -> d326Semdedup)

  val oracle: Map[String, String] = Map(
    "d302_substring_spans"     -> d302Sql,
    "d293_skeleton_dedup"      -> d293Sql,
    "d143_split_leakage"       -> d143Sql,
    "d142_incremental_minhash" -> d142Sql,
    "d185_snapshot_incremental" -> d185Sql,
    "d189_admit_compact"       -> d189Sql,
    "d135_incremental_dedup"  -> d135Sql,
    "d141_capped_jaccard"     -> d141Sql,
    "d29_dedup_exact"         -> d29Sql,
    "d30_dedup_ngram_jaccard" -> d30Sql,
    "d31_dedup_minhash_lsh"   -> d31Sql,
    "d32_dedup_simhash"       -> d32Sql,
    "d33_dedup_embedding"     -> d33Sql,
    "d326_semdedup"           -> d326Sql)
}
