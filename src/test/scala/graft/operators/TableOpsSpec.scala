package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class TableOpsSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"

  test("q111 checksum is invariant under repartitioning") {
    val base = TableOps.q111TableChecksum(spark, sf).collect()
    // same data, different physical layout → identical checksums
    val tmp = tmpDir("chk")
    graft.Tables.customer(spark, sf).repartition(13)
      .write.mode("overwrite").parquet(s"$tmp/customer.parquet")
    val re = TableOps.q111TableChecksum(spark, tmp).collect()
    assert(base.map(_.toSeq).toSeq === re.map(_.toSeq).toSeq)
  }

  test("q111 checksum detects a single-row mutation") {
    val tmp = tmpDir("chkmut")
    graft.Tables.customer(spark, sf)
      .withColumn("c_name",
        when(col("c_custkey") === 7, lit("tampered")).otherwise(col("c_name")))
      .write.mode("overwrite").parquet(s"$tmp/customer.parquet")
    val a = TableOps.q111TableChecksum(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    val b = TableOps.q111TableChecksum(spark, tmp).collect()
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(a("ALL") !== b("ALL"))
    // exactly one segment checksum moved (plus the rollup total)
    assert(a.count { case (k, v) => b(k) != v } === 2)
  }

  test("q112 skips files and still matches the unpruned answer") {
    val pruned = TableOps.q112FileSkipping(spark, sf).collect()
    assert(pruned.forall(_.getAs[Boolean]("files_skipped")))
    val direct = graft.Tables.lineitem(spark, sf)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1996-07-01").cast("timestamp"))
      .groupBy("l_returnflag").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(pruned.map(r => r.getString(0) -> r.getLong(1)).toMap === direct)
  }

  test("q186 merges evolved footers: v1 rows null-backfill the new column " +
    "and no file is rewritten") {
    TableOps.q186SchemaEvolution(spark, sf).count() // writes both generations
    // resolve the artifact through the same helper the operator uses; the
    // build closure must never run — the artifact exists after the call above
    val tmp = graft.SparkSupport.layoutArtifact(TableOps.EvolvingLayout, sf)(_ =>
      fail("q186 artifact should already have been built"))
    val merged = spark.read.option("mergeSchema", "true").parquet(tmp)
    // the union schema carries the evolved column
    assert(merged.columns.toSet ==
      Set("o_orderkey", "o_totalprice", "o_orderpriority"))
    // v1 generation (even keys) surfaces NULLs; v2 carries real values
    assert(merged.filter(col("o_orderkey") % 2 === 0 &&
      col("o_orderpriority").isNotNull).count() == 0)
    assert(merged.filter(col("o_orderkey") % 2 =!= 0 &&
      col("o_orderpriority").isNull).count() == 0)
    // nothing lost across generations
    assert(merged.count() == graft.Tables.orders(spark, sf).count())
    // and a v1-era reader (no mergeSchema) still works on its own columns
    val v1View = spark.read.parquet(tmp).select("o_orderkey", "o_totalprice")
    assert(v1View.count() == merged.count())
  }

  test("q300 ivm: v2 equals the full recompute, v1 time-travels to the " +
    "pre-merge state, and re-running adds no versions") {
    import org.apache.spark.sql.functions._
    val out = TableOps.q300IvmAgg(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    // full recompute ground truth
    val full = graft.Tables.orders(spark, sf)
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"),
        sum(col("o_totalprice").cast("decimal(38,6)")).cast("double").as("t"))
      .orderBy("o_orderpriority").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(out.toSeq == full.toSeq)
    val t = graft.sources.TxLog.layoutArtifact(
      TableOps.IvmAggLayout, sf)(_ => ()) + "/agg"
    assert(graft.sources.TxLog.versions(t) == Seq(1, 2),
      "lifecycle must be exactly base-append then merged-overwrite")
    // v1 = base fold only (the 90% slice)
    val v1 = graft.sources.TxLog.read(spark, t, Some(1))
      .agg(sum(col("n"))).head().getLong(0)
    val base = graft.Tables.orders(spark, sf)
      .filter(col("o_orderkey") % 10 =!= 7).count()
    assert(v1 == base)
    // idempotence: the artifact caches — a second call adds no version
    TableOps.q300IvmAgg(spark, sf).count()
    assert(graft.sources.TxLog.versions(t) == Seq(1, 2))
  }

  test("q301 zorder: the box result equals a full-scan filter, files are " +
    "skipped, and z-clustering out-prunes a 1-D custkey sort layout") {
    import org.apache.spark.sql.functions._
    import graft.sources.TxLog
    val out = TableOps.q301ZorderBox(spark, sf).head()
    assert(out.getAs[Boolean]("files_skipped"))
    // ground truth: full-scan box filter
    val day = "datediff(o_orderdate, DATE '1970-01-01')"
    val b = graft.Tables.orders(spark, sf)
      .selectExpr("min(o_custkey) AS klo", "max(o_custkey) AS khi",
        s"min($day) AS dlo", s"max($day) AS dhi").head()
    val (klo, khi, dlo, dhi) =
      (b.getLong(0), b.getLong(1), b.getInt(2).toLong, b.getInt(3).toLong)
    val (k1, k2) = (klo + (khi - klo) / 4, klo + (khi - klo) / 2)
    val (d1, d2) = (dlo + (dhi - dlo) / 3, dlo + 2 * (dhi - dlo) / 3)
    val full = graft.Tables.orders(spark, sf)
      .selectExpr("o_custkey", s"$day AS oday")
      .filter(col("o_custkey").between(k1, k2) && col("oday").between(d1, d2))
    assert(out.getAs[Long]("n_rows") == full.count())
    assert(out.getAs[Long]("sum_cust") ==
      full.agg(sum("o_custkey")).head().getLong(0))
    // the box's z-prune interval, from the normalized corners
    def nrm(v: Long, lo: Long, hi: Long) =
      (v - lo) * 65535 / math.max(hi - lo, 1L)
    def morton(x: Long, y: Long) = (0 until 16).map(i =>
      (((x >> i) & 1L) << (2 * i)) + (((y >> i) & 1L) << (2 * i + 1))).sum
    val zLo = morton(nrm(k1, klo, khi), nrm(d1, dlo, dhi))
    val zHi = morton(nrm(k2, klo, khi), nrm(d2, dlo, dhi)) + 1
    val ztab = graft.sources.TxLog.layoutArtifact(
      TableOps.ZorderTblLayout, sf)(_ => ())
    val zKept = TxLog.pruneFiles(ztab, zLo, zHi).size
    assert(zKept < TxLog.liveFiles(ztab).size,
      "z-layout must skip files for the 2-D box")
    // contrast: the SAME z column + stats over a custkey-SORTED layout —
    // 1-D clustering leaves every file's z-range wide open on the date
    // dimension, so the corner z-interval prunes (almost) nothing
    val linT = s"${tmpDir("zorder_linear")}/t"
    val zn = (0 until 16).map(i =>
      s"shiftleft(CAST(shiftright(xn, $i) & 1 AS BIGINT), ${2 * i}) + " +
        s"shiftleft(CAST(shiftright(yn, $i) & 1 AS BIGINT), ${2 * i + 1})")
      .mkString("(", " + ", ") AS z")
    val linear = graft.Tables.orders(spark, sf)
      .selectExpr("o_custkey", s"$day AS oday")
      .selectExpr("o_custkey", "oday",
        s"CAST((o_custkey - $klo) * 65535L DIV ${math.max(khi - klo, 1L)}L AS INT) AS xn",
        s"CAST((oday - $dlo) * 65535L DIV ${math.max(dhi - dlo, 1L)}L AS INT) AS yn")
      .selectExpr("o_custkey", "oday", zn)
      .repartitionByRange(16, col("o_custkey")) // 1-D layout
    TxLog.appendWithStats(spark, linear, linT, "z", partFiles = 8)
    val linKept = TxLog.pruneFiles(linT, zLo, zHi).size
    assert(zKept < linKept,
      s"z-layout ($zKept files) must out-prune the 1-D sort ($linKept)")
  }

  test("q307 bloom skipping: probe aggregates equal a full-scan filter, " +
    "files are skipped, and an absent key is rejected by the index") {
    import org.apache.spark.sql.functions._
    val out = TableOps.q307BloomSkipping(spark, sf).collect()
    assert(out.forall(_.getAs[Boolean]("files_skipped")))
    val li = graft.Tables.lineitem(spark, sf)
    val b = li.agg(min("l_orderkey"), max("l_orderkey")).head()
    val (klo, khi) = (b.getLong(0), b.getLong(1))
    val kmid = li.filter(col("l_orderkey") <= (klo + khi) / 2)
      .agg(max("l_orderkey")).head().getLong(0)
    val probes = Seq(klo, kmid, khi).distinct
    val truth = li.filter(col("l_orderkey").isInCollection(probes))
      .groupBy("l_orderkey").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.map(_.getLong(0)).toSet == probes.toSet)
    out.foreach(r => assert(r.getAs[Long]("n") == truth(r.getLong(0))))
    // the index must reject a key that is in no file (false positives are
    // allowed per-file at ~1%, but an absent key cannot be admitted by
    // EVERY file — that would mean the index skips nothing for misses)
    val layout = graft.SparkSupport.layoutArtifact(TableOps.BloomidxLayout, sf)(_ => ())
    val blooms = spark.read.parquet(layout)
      .groupBy(input_file_name().as("f"))
      .agg(expr("bloom_filter_agg(l_orderkey, CAST(50000 AS BIGINT), " +
        "CAST(400000 AS BIGINT))").as("bf"))
      .collect()
      .map(r => org.apache.spark.util.sketch.BloomFilter.readFrom(
        new java.io.ByteArrayInputStream(r.getAs[Array[Byte]]("bf"))))
    val absent = khi + 987654321L
    assert(blooms.count(_.mightContainLong(absent)) < blooms.length,
      "an absent key must be rejected by at least one file's bloom")
  }

  test("q113 compaction shrinks the file count and preserves content") {
    val out = TableOps.q113Compaction(spark, sf).collect()
    assert(out.forall(_.getAs[Boolean]("compacted")))
    // the compacted copy lands at the per-(corpus, JVM) roundtrip path —
    // a fixed shared name would read another SF's stale output
    val comp = graft.SparkSupport.roundtripPath("compact", sf)
    val n = new java.io.File(comp).listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(n < 64)
    val orig = graft.Tables.orders(spark, sf).count()
    assert(spark.read.parquet(comp).count() === orig)
  }
}
