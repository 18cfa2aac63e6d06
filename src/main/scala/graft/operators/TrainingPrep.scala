package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Training-data preparation operators: embedding quantization for storage
  * and fixed-size document chunking for context windows. Both are pure
  * map-side projections (no shuffle except the presentation sort) built
  * from portable arithmetic, so the DuckDB oracle re-derives every output
  * value exactly — including the quantization error bound.
  */
object TrainingPrep {

  /** q54: symmetric int8 quantization of the embedding column — the
    * standard storage/serving compression (4 bytes → 1 byte per dim).
    * Per-vector scale = max|x|/127; codes = floor(x/scale + 0.5), which is
    * engine-portable rounding (`round()` half-up vs half-even varies across
    * engines; floor(+0.5) does not). Emits the code checksum and the
    * reconstruction-error maximum — the quantization contract
    * max|x − q·scale| ≤ scale/2 — as values the oracle recomputes. */
  def q54EmbeddingQuantize(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir)
      .selectExpr("vec_id", "transform(embedding, x -> CAST(x AS DOUBLE)) AS v")
      .selectExpr("vec_id", "v",
        "array_max(transform(v, x -> abs(x))) / 127.0D AS scale")
      .selectExpr("vec_id", "scale",
        "transform(v, x -> floor(x / scale + 0.5D)) AS q",
        "v")
      .selectExpr(
        "vec_id",
        "round(scale, 6) AS scale6",
        "CAST(aggregate(q, 0D, (a, x) -> a + x) AS BIGINT) AS code_sum",
        """round(array_max(zip_with(v, q, (x, c) -> abs(x - c * scale))), 6)
          |  AS max_abs_err""".stripMargin)
      .orderBy("vec_id")

  val q54Sql: String =
    """WITH base AS (
      |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |  FROM embeddings),
      |scaled AS (
      |  SELECT vec_id, v,
      |    list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale
      |  FROM base),
      |coded AS (
      |  SELECT vec_id, v, scale,
      |    list_transform(v, x -> floor(x / scale + 0.5)) AS q
      |  FROM scaled)
      |SELECT vec_id, round(scale, 6) AS scale6,
      |  CAST(list_reduce(q, (a, x) -> a + x) AS BIGINT) AS code_sum,
      |  round(list_max(list_transform(range(1, 65),
      |    k -> abs(v[k] - q[k] * scale))), 6) AS max_abs_err
      |FROM coded ORDER BY vec_id""".stripMargin

  /** q55: fixed-size token chunking with overlap (50-token windows, stride
    * 40) — how documents become context-window-sized training rows. Chunk
    * text is keyed by the portable rolling hash instead of shipping the
    * text itself (the dedup/repeat-detection key downstream pipelines
    * want), so the shuffle/sort carries longs. */
  def q55DocChunks(s: SparkSession, dir: String): DataFrame = {
    Tables.documents(s, dir)
      .selectExpr("doc_id", "split(lower(text), ' ') AS toks")
      .selectExpr("doc_id", "toks",
        "explode(sequence(1, size(toks), 40)) AS start")
      .selectExpr(
        "doc_id",
        "CAST((start - 1) / 40 AS INT) AS chunk_idx",
        "size(slice(toks, start, 50)) AS n_tokens",
        "poly_hash(concat_ws(' ', slice(toks, start, 50))) AS chunk_hash")
      .orderBy("doc_id", "chunk_idx")
  }

  val q55Sql: String =
    """WITH t AS (
      |  SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
      |st AS (
      |  SELECT doc_id, toks, unnest(range(1, len(toks) + 1, 40)) AS start FROM t),
      |ch AS (
      |  SELECT doc_id,
      |    CAST((start - 1) / 40 AS INTEGER) AS chunk_idx,
      |    toks[start:start+49] AS chunk
      |  FROM st)
      |SELECT doc_id, chunk_idx, CAST(len(chunk) AS INTEGER) AS n_tokens,
      |  list_reduce(list_prepend(CAST(7 AS BIGINT),
      |    list_transform(string_split(array_to_string(chunk, ' '), ''),
      |      c -> CAST(ascii(c) AS BIGINT))),
      |    (acc, x) -> (acc * 31 + x) % 1000000007) AS chunk_hash
      |FROM ch ORDER BY doc_id, chunk_idx""".stripMargin

  /** q58: latest-wins compaction (CDC/upsert semantics, SCD type 1): one
    * surviving row per (user_id, event_type), the one with the greatest
    * (ts, event_id) — the tiebreak makes the winner total-ordered, hence
    * deterministic. `max_by` with a struct key is ONE hash aggregation with
    * map-side partial combine; the window-row_number formulation of the
    * same compaction sorts every partition. At 100 TB this is the nightly
    * change-log → snapshot fold. */
  def q58LatestWins(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(col("user_id"), col("event_type"))
      .agg(
        max_by(struct(col("value"), col("event_id")),
          struct(col("ts"), col("event_id"))).as("w"),
        max(col("ts")).as("last_ts"),
        count(lit(1)).as("n_versions"))
      .select(col("user_id"), col("event_type"),
        col("w.event_id").as("event_id"), col("w.value").as("value"),
        col("last_ts"), col("n_versions"))
      .orderBy("user_id", "event_type")

  val q58Sql: String =
    """SELECT user_id, event_type, event_id, value, last_ts, n_versions FROM (
      |  SELECT user_id, event_type, event_id, value,
      |    MAX(ts) OVER w AS last_ts,
      |    COUNT(*) OVER w AS n_versions,
      |    ROW_NUMBER() OVER (PARTITION BY user_id, event_type
      |                       ORDER BY ts DESC, event_id DESC) AS rn
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id, event_type))
      |WHERE rn = 1 ORDER BY user_id, event_type""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q54_embedding_quantize" -> q54EmbeddingQuantize,
    "q55_doc_chunks"         -> q55DocChunks,
    "q58_latest_wins"        -> q58LatestWins)

  val oracle: Map[String, String] = Map(
    "q54_embedding_quantize" -> q54Sql,
    "q55_doc_chunks"         -> q55Sql,
    "q58_latest_wins"        -> q58Sql)
}
