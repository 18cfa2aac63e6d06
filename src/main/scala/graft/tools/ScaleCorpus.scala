package graft.tools

import org.apache.spark.sql.functions._

/** Synthesize scaled copies of the sf0.1 corpus for the SCALING.md
  * measurement pass (VERDICT r14 directive 1) — NOT part of the gate.
  *
  * Scaling model: R DISJOINT replicas of the source tables, so the
  * ground-truth work (dedup pairs, graph components, ANN lists) grows
  * exactly linearly and a measured wall-time exponent isolates the
  * ENGINE's cost curve from corpus artifacts:
  *
  *  - documents: replica r > 0 suffixes every token with `x<r>`, so
  *    replicas share NO shingles — near-dup structure is preserved
  *    within a replica and impossible across replicas (appending a
  *    shared marker instead would plant a corpus-wide hot shingle and
  *    measure the planted blowup, not the operator);
  *  - embeddings: replica r applies a distinct ORTHOGONAL transform —
  *    cyclic rotation by (r mod dim) composed with axis sign flips
  *    keyed by the bits of (r div dim) — so intra-replica geometry
  *    (norms, dot products) is EXACTLY preserved, cross-replica
  *    similarity decorrelates, and no two replicas share a transform
  *    for any r < dim·2^dim (rotation alone is the identity whenever
  *    r is a multiple of dim — review r15);
  *  - lineitem: orderkey/partkey/suppkey offsets make replica graphs
  *    disjoint — nodes and edges scale by R at constant degree, the
  *    shape real corpus growth has.
  *
  * Usage: runMain graft.tools.ScaleCorpus [srcDir] [outRoot] [scales]
  * defaults: /root/testdata/sf0.1 tmp/scale 1,3,10
  */
object ScaleCorpus {
  def main(args: Array[String]): Unit = {
    val src = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val outRoot = args.lift(1).getOrElse("tmp/scale")
    val scales = args.lift(2).getOrElse("1,3,10")
      .split(",").map(_.trim.toInt).toSeq
    val spark = graft.SparkSupport.session()

    scales.foreach { r =>
      val out = s"$outRoot/x$r"
      val reps = spark.range(r).select(col("id").as("__r"))

      graft.Tables.parquet(spark, s"$src/documents.parquet").crossJoin(reps)
        .select(
          (col("doc_id") + col("__r") * 10000000L).as("doc_id"),
          when(col("__r") === 0, col("text")).otherwise(expr(
            "array_join(transform(split(text, ' '), " +
              "w -> concat(w, 'x', CAST(__r AS STRING))), ' ')"))
            .as("text"),
          col("lang"), col("source"))
        .withColumn("n_chars", length(col("text")).cast("long"))
        .write.mode("overwrite").parquet(s"$out/documents.parquet")

      graft.Tables.parquet(spark, s"$src/embeddings.parquet").crossJoin(reps)
        .select(
          (col("vec_id") + col("__r") * 10000000L).as("vec_id"),
          expr("transform(sequence(0, size(embedding) - 1), i -> " +
            "element_at(embedding, CAST((i + __r) % size(embedding) " +
            "AS INT) + 1) * CASE WHEN (shiftright(CAST(__r DIV " +
            "size(embedding) AS INT), CAST(i AS INT)) & 1) = 1 " +
            "THEN -1.0 ELSE 1.0 END)").cast("array<float>")
            .as("embedding"),
          col("label"))
        .write.mode("overwrite").parquet(s"$out/embeddings.parquet")

      graft.Tables.parquet(spark, s"$src/lineitem.parquet").crossJoin(reps)
        .select(
          (col("l_orderkey") + col("__r") * 100000000L).as("l_orderkey"),
          (col("l_partkey") + col("__r") * 10000000L).as("l_partkey"),
          (col("l_suppkey") + col("__r") * 10000000L).as("l_suppkey"),
          col("l_linenumber"), col("l_quantity"), col("l_extendedprice"),
          col("l_discount"), col("l_tax"), col("l_returnflag"),
          col("l_linestatus"), col("l_shipdate"))
        .write.mode("overwrite").parquet(s"$out/lineitem.parquet")

      println(s"[scale] x$r written to $out")
    }
    spark.stop()
  }
}
