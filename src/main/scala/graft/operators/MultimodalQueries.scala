package graft.operators

import graft.Tables
import graft.multimodal.Media
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal binary-column operators through the correctness gate. The
  * payload math that IS expressible in ANSI SQL (length, content hash,
  * byte slicing / frame counts, metadata-derived features) gets a full
  * DuckDB oracle; the mapPartitions decode path (m45) returns the typed
  * feature rows and is additionally covered by MediaSpec. */
object MultimodalQueries {

  /** Binary payload features via pure SQL expressions: sizes, md5 of the
    * blob, hex of a sampled byte range, frame count at a 256-byte stride. */
  def m44MediaFeatures(s: SparkSession, dir: String): DataFrame =
    Media.mediaTable(Tables.documents(s, dir))
      .selectExpr(
        "media_id", "kind",
        "CAST(octet_length(payload) AS INTEGER) AS n_bytes",
        "md5(payload) AS content_md5",
        "upper(hex(substring(payload, 1, 8))) AS head_hex",
        "CAST(ceil(octet_length(payload) / 256.0D) AS INTEGER) AS n_frames",
        "round(width / CAST(height AS DOUBLE), 6) AS aspect")
      .orderBy("media_id")

  val m44Sql: String =
    """WITH media AS (
      |  SELECT doc_id AS media_id,
      |    (['image', 'audio', 'video'])[CAST(doc_id % 3 AS INTEGER) + 1] AS kind,
      |    text, encode(text) AS payload,
      |    CAST(n_chars % 640 + 1 AS INTEGER) AS width,
      |    CAST(n_chars % 480 + 1 AS INTEGER) AS height
      |  FROM documents)
      |SELECT media_id, kind,
      |  CAST(octet_length(payload) AS INTEGER) AS n_bytes,
      |  -- this DuckDB build lacks md5(BLOB); payload = encode(text), so
      |  -- md5 over the source varchar hashes the identical bytes
      |  md5(text) AS content_md5,
      |  upper(substr(hex(payload), 1, 16)) AS head_hex,
      |  CAST(ceil(octet_length(payload) / 256.0) AS INTEGER) AS n_frames,
      |  round(width / CAST(height AS DOUBLE), 6) AS aspect
      |FROM media ORDER BY media_id""".stripMargin

  /** The typed mapPartitions decode path (stubbed codec, real batch shape).
    * The mapPartitions OPERATOR is not SQL-expressible, but the stub's
    * features are deterministic byte math (mean byte value, frame count at
    * a 256-byte stride, floor-scale-quantized aspect), so DuckDB recomputes
    * every value from the same payload bytes — m45 is value-gated like any
    * other query, with MediaSpec additionally pinning unit fixtures. */
  def m45MediaDecode(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Media.decodeStub(
      Media.balanced(Media.mediaTable(Tables.documents(s, dir)), 32)
        .as[Media.MediaRow])
      .toDF()
      .orderBy("media_id")
  }

  /** The corpus is ASCII (octet_length(payload) = length(text)), so
    * per-CHAR ascii() equals the per-BYTE value the stub folds over. */
  val m45Sql: String =
    """WITH media AS (
      |  SELECT doc_id AS media_id,
      |    (['image', 'audio', 'video'])[CAST(doc_id % 3 AS INTEGER) + 1] AS kind,
      |    text, encode(text) AS payload,
      |    CAST(n_chars % 640 + 1 AS INTEGER) AS width,
      |    CAST(n_chars % 480 + 1 AS INTEGER) AS height
      |  FROM documents)
      |SELECT media_id, kind,
      |  CAST(octet_length(payload) AS INTEGER) AS n_bytes,
      |  CASE WHEN octet_length(payload) = 0 THEN 0.0
      |       ELSE floor(list_reduce(list_transform(string_split(text, ''),
      |              c -> CAST(ascii(c) AS BIGINT)), (a, x) -> a + x)
      |            / CAST(octet_length(payload) AS DOUBLE) * 1e6 + 0.5) / 1e6
      |       END AS mean_byte,
      |  CAST(ceil(octet_length(payload) / 256.0) AS INTEGER) AS n_frames,
      |  floor(width / CAST(height AS DOUBLE) * 1e6 + 0.5) / 1e6 AS aspect
      |FROM media ORDER BY media_id""".stripMargin

  /** m175: interleaved multimodal sequence packing — the vision-language
    * training-prep arithmetic: each document contributes its TEXT tokens
    * plus one placeholder token per media FRAME (the patch-token budget of
    * a VLM: a frame is ceil-of-256-bytes, m44/m160's rule), and the
    * combined streams pack into 512-token context windows per source with
    * t100's concat-then-chunk running offsets. Output per doc: the two
    * token budgets, the pack id, and whether the doc straddles a window.
    *
    * Scale shape: token budgets are map-side byte/array math; the running
    * offset is t100's per-source parallel cumsum — no global sort, no
    * single-partition window. */
  def m175InterleavedPack(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("source").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    // one projection over one scan: the media payload IS encode(text)
    // (Media.mediaTable's linkage contract, media_id = doc_id), so the
    // frame budget derives in place — no doc_id self-join
    Tables.documents(s, dir)
      .selectExpr("source", "doc_id",
        "size(split(lower(text), ' ')) AS n_text_tok",
        "CAST(ceil(octet_length(encode(text, 'UTF-8')) / 256.0D) AS INTEGER)" +
          " AS n_media_tok")
      .selectExpr("source", "doc_id", "n_text_tok", "n_media_tok",
        "n_text_tok + n_media_tok AS n_total")
      .withColumn("start_pos",
        coalesce(sum(col("n_total")).over(w), lit(0L)))
      .selectExpr("source", "doc_id", "n_text_tok", "n_media_tok",
        "start_pos", "start_pos div 512 AS pack_id",
        "CAST((start_pos + n_total - 1) div 512 > start_pos div 512 AS INT)" +
          " AS crosses")
      .orderBy("source", "doc_id")
  }

  val m175Sql: String =
    """WITH t AS (
      |  SELECT source, doc_id,
      |    CAST(len(string_split(lower(text), ' ')) AS INTEGER) AS n_text_tok,
      |    CAST(ceil(octet_length(encode(text)) / 256.0) AS INTEGER)
      |      AS n_media_tok
      |  FROM documents),
      |p AS (
      |  SELECT source, doc_id, n_text_tok, n_media_tok,
      |    n_text_tok + n_media_tok AS n_total,
      |    CAST(coalesce(sum(n_text_tok + n_media_tok) OVER (
      |      PARTITION BY source ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
      |      AS start_pos
      |  FROM t)
      |SELECT source, doc_id, n_text_tok, n_media_tok, start_pos,
      |  start_pos // 512 AS pack_id,
      |  CAST((start_pos + n_total - 1) // 512 > start_pos // 512 AS INTEGER)
      |    AS crosses
      |FROM p ORDER BY source, doc_id""".stripMargin

  /** m194: MEDIA NEAR-DUP via average-hash (aHash) — the canonical
    * perceptual-image-dedup shape run over the stubbed decode: sample a
    * fixed 64-"pixel" grid from the payload (stride = len/64, the
    * downsample step of a real aHash), threshold each pixel against the
    * grid total (integer compare px·64 > Σpx — no float mean), and the 64
    * resulting bits are the perceptual signature. Candidates come from
    * the d32 SimHash pattern applied to media: the signature splits into
    * 4 16-bit chunks and pairs agreeing exactly on ≥ 1 chunk pair up. By
    * pigeonhole that join is LOSSLESS for Hamming ≤ 3 (fewer flips than
    * chunks forces an untouched chunk); at the reported radius 6 it is
    * the standard banded high-recall filter with exact verification —
    * the same contract as d31's LSH bands. Verification computes the
    * full 64-bit Hamming distance per candidate pair only.
    *
    * Planted twins: every doc_id % 10 = 0 payload re-keyed (+10⁶) with
    * its FIRST byte flipped — the re-encode/metadata-touch case where
    * exact content hash (m44's md5) goes blind. One sampled pixel moves,
    * but the GLOBAL threshold moves with it, so pixels sitting near the
    * mean can flip too — exactly how a real aHash responds to a small
    * brightness shift. Measured at sf0.01: 47/50 twins surface within
    * the radius (hamming 0-5); the 3 misses are threshold-straddling
    * payloads past radius 6, the documented recall/radius trade every
    * perceptual hash makes.
    *
    * Scale shape: signature is one map-side projection; candidate
    * generation is a bucketed equi-join on (chunk index, chunk value) —
    * Σ bucket² work, never corpus²; verification is per-candidate-pair
    * O(64). Hot buckets are df-capped at 64 docs (the d141 stop-shingle
    * ceiling applied to chunk values): a degenerate corpus where one chunk
    * value is shared by millions of images (solid-color frames, constant
    * letterboxing bands) would otherwise explode C(bucket, 2); the cap
    * bounds every bucket at C(64, 2) and drops exactly the chunk values
    * with no discriminative power. A pair only needs ONE of its 4 chunks
    * to agree in an uncapped bucket, so recall barely moves (sf0.1: 886
    * of 887 pairs survive, all 486 planted twins among them; sf0.01: the
    * cap never bites — max bucket 14). */
  def m194AhashNeardup(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val corpus = docs.select(col("doc_id").as("media_id"), col("text").as("t"))
      .unionByName(docs.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 1000000L).as("media_id"),
          concat(lit("X"), expr("substring(text, 2, length(text) - 1)")).as("t")))
    // the 64 threshold bits PACK into one BIGINT (bit j = pixel j): the
    // signature state that flows through the bucket shuffle and both
    // verify joins is 8 bytes, not a 64-int array, and the Hamming verify
    // collapses to bit_count(xor) — one codegen'd instruction pair per
    // candidate instead of a 64-element zip_with fold
    // the 64-element per-row HOF folds below are the amplified stage:
    // parallelize the (narrow) corpus first (no-op at scale)
    val sig = graft.SparkSupport.parallelized(corpus)
      .selectExpr("media_id", "length(t) AS len",
        "greatest(CAST(1 AS BIGINT), CAST(floor(length(t) / 64) AS BIGINT)) AS stride", "t")
      .selectExpr("media_id",
        """transform(sequence(0, 63), i ->
          |  ascii(substring(t, CAST(least(i * stride + 1, len) AS INT), 1))) AS px""".stripMargin)
      .selectExpr("media_id", "px",
        "aggregate(px, CAST(0 AS BIGINT), (a, x) -> a + x) AS tot")
      .selectExpr("media_id",
        """aggregate(sequence(0, 63), CAST(0 AS BIGINT), (a, j) ->
          |  a + IF(element_at(px, j + 1) * 64 > tot,
          |         shiftleft(CAST(1 AS BIGINT), j), CAST(0 AS BIGINT)))
          |AS packed""".stripMargin)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val chunks = sig.selectExpr("media_id",
      """explode(transform(sequence(0, 3), c -> struct(c AS c,
        |  (shiftright(packed, c * 16) & 65535) AS ck))) AS ch""".stripMargin)
      .select(col("media_id").as("doc_id"), col("ch.c").as("c"), col("ch.ck").as("ck"))
    val cand = chunks.groupBy("c", "ck")
      .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
      .filter(size(col("ids")) <= 64)
      .selectExpr(s"${Dedup.pairExplodeExpr} AS p")
      .select(col("p.id1").as("id1"), col("p.id2").as("id2"))
      .distinct()
    cand
      .join(sig.select(col("media_id").as("id1"), col("packed").as("b1")), "id1")
      .join(sig.select(col("media_id").as("id2"), col("packed").as("b2")), "id2")
      .selectExpr("id1", "id2", "CAST(bit_count(b1 ^ b2) AS INT) AS hamming")
      .filter(col("hamming") <= 6)
      .selectExpr("id1", "id2", "hamming",
        "CAST(id2 = id1 + 1000000 AND id1 % 10 = 0 AS INT) AS is_planted")
      .orderBy("id1", "id2")
  }

  val m194Sql: String =
    """WITH corpus AS (
      |  SELECT doc_id AS media_id, text AS t FROM documents
      |  UNION ALL
      |  SELECT doc_id + 1000000 AS media_id,
      |    'X' || substr(text, 2, length(text) - 1) AS t
      |  FROM documents WHERE doc_id % 10 = 0),
      |px AS (
      |  SELECT media_id,
      |    list_transform(range(0, 64), i -> ascii(substr(t,
      |      CAST(least(i * greatest(1, CAST(floor(length(t) / 64) AS BIGINT))
      |        + 1, length(t)) AS INTEGER), 1))) AS px
      |  FROM corpus),
      |sig AS (
      |  SELECT media_id,
      |    list_transform(px, x -> CAST(x * 64 >
      |      list_reduce(list_prepend(CAST(0 AS BIGINT), px), (a, y) -> a + y)
      |      AS INTEGER)) AS bits
      |  FROM px),
      |chunks AS (
      |  SELECT media_id, c,
      |    list_reduce(list_prepend(CAST(0 AS BIGINT),
      |      list_transform(range(0, 16), j ->
      |        CAST(bits[c * 16 + j + 1] AS BIGINT)
      |          * CAST(power(2, j) AS BIGINT))),
      |      (a, x) -> a + x) AS ck
      |  FROM sig, (SELECT unnest(range(0, 4)) AS c)),
      |keep AS (
      |  SELECT c, ck FROM chunks GROUP BY c, ck HAVING count(*) <= 64),
      |ck2 AS (
      |  SELECT chunks.* FROM chunks JOIN keep USING (c, ck)),
      |cand AS (
      |  SELECT DISTINCT a.media_id AS id1, b.media_id AS id2
      |  FROM ck2 a JOIN ck2 b
      |    ON a.c = b.c AND a.ck = b.ck AND a.media_id < b.media_id),
      |scored AS (
      |  SELECT id1, id2,
      |    CAST(len(list_filter(range(1, 65),
      |      k -> s1.bits[k] <> s2.bits[k])) AS INTEGER) AS hamming
      |  FROM cand
      |  JOIN sig s1 ON s1.media_id = id1
      |  JOIN sig s2 ON s2.media_id = id2)
      |SELECT id1, id2, hamming,
      |  CAST(id2 = id1 + 1000000 AND id1 % 10 = 0 AS INTEGER) AS is_planted
      |FROM scored WHERE hamming <= 6
      |ORDER BY id1, id2""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "m44_media_features" -> m44MediaFeatures,
    "m45_media_decode"   -> m45MediaDecode,
    "m175_interleaved_pack" -> m175InterleavedPack,
    "m194_ahash_neardup" -> m194AhashNeardup)

  val oracle: Map[String, String] = Map(
    "m44_media_features" -> m44Sql,
    "m45_media_decode"   -> m45Sql,
    "m175_interleaved_pack" -> m175Sql,
    "m194_ahash_neardup" -> m194Sql)
}
