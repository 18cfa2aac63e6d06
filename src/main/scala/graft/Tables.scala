package graft

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation,
  PartitioningAwareFileIndex}
import org.apache.spark.sql.types.StructType

/** Parquet readers: the harness testdata tables (TESTDATA.md) and the one
  * untyped parquet reader every schema-less read in `src/main` goes
  * through (`tools/preflight.sh` fails on another).
  *
  * Mirrors the reference's declared-schema parquet scans
  * (`pipelineApplication/silverLayer/BuildSilverLayer.py:88-136`) in
  * spirit: every scan is a plain parquet scan so Catalyst gets full
  * predicate-pushdown / column-pruning freedom. At 100 TB these would be
  * partitioned-table scans; the API is identical — the caller's
  * `select`/`filter` drive partition pruning, so nothing here needs to change
  * with scale.
  */
object Tables {
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    parquet(spark, s"$dir/$name.parquet")

  def parquet(spark: SparkSession, paths: String*): DataFrame =
    parquet(spark, Map.empty[String, String], paths: _*)

  /** `spark.read.options(options).parquet(paths: _*)`, with its schema
    * inference done once per unchanged input. The first call runs Spark's
    * own inference (a one-task job) and remembers the resolved schema; a
    * later call with the same (paths, options, session SQL conf) passes
    * that schema as the user schema, so it plans with no job, and serves
    * it only while the read still lists the same files: path, size,
    * modification time and file key of each, in listing order, taken from
    * the listing Spark's file index makes for the read itself. Any
    * difference (a file added, removed or rewritten, a conf change such as
    * `binaryAsString` or `nanosAsLong`) runs the plain read and replaces
    * the entry; a failing read fails exactly as the plain one and stores
    * nothing. Reads whose partition columns also appear in the data files
    * are never remembered (a user schema would reorder those columns), nor
    * are reads off the local filesystem. The memo holds schemas, never
    * rows or plans, in an LRU of [[SchemaMemoEntries]] entries. */
  def parquet(spark: SparkSession, options: Map[String, String],
              paths: String*): DataFrame = {
    val key = SchemaKey(paths.toVector, options, spark.conf.getAll)
    val hit = Option(schemaMemo.synchronized(schemaMemo.get(key))).flatMap { m =>
      try {
        val df = spark.read.options(options).schema(m.schema).parquet(paths: _*)
        Some(df).filter(listing(_).flatMap(fs => stamps(fs.map(_._1))).contains(m.stamps))
      } catch { case scala.util.control.NonFatal(_) => None }
    }
    hit.getOrElse {
      val df = spark.read.options(options).parquet(paths: _*)
      for (fs <- listing(df) if !partitionInData(df); st <- stamps(fs.map(_._1))
           // the listing and the stamps describe the same files, so the
           // footers inference read in between are the ones stamped
           if fs.map(_._2) == st.map(s => (s.size, s.modified.toMillis)))
        schemaMemo.synchronized(schemaMemo.put(key, Resolved(df.schema, st)))
      df
    }
  }

  private[graft] val SchemaMemoEntries = 128

  private final case class SchemaKey(paths: Seq[String],
      options: Map[String, String], conf: Map[String, String])

  private final case class Resolved(schema: StructType, stamps: Seq[Stamp])

  private val schemaMemo =
    new java.util.LinkedHashMap[SchemaKey, Resolved](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[SchemaKey, Resolved]): Boolean =
        size() > SchemaMemoEntries
    }

  private def fsRelation(df: DataFrame): Option[HadoopFsRelation] =
    df.queryExecution.analyzed.collectFirst {
      case r: LogicalRelation if r.relation.isInstanceOf[HadoopFsRelation] =>
        r.relation.asInstanceOf[HadoopFsRelation]
    }

  /** Every file the read's file index listed, with the size and
    * modification time (ms) of that listing; None off the local
    * filesystem or for a plan without a file index. */
  private def listing(df: DataFrame): Option[Seq[(Path, (Long, Long))]] =
    fsRelation(df).map(_.location)
      .collect { case idx: PartitioningAwareFileIndex => idx.allFiles() }
      .filter(_.forall(_.getPath.toUri.getScheme == "file"))
      .map(_.map(f => (Paths.get(f.getPath.toUri), (f.getLen, f.getModificationTime))))

  private def partitionInData(df: DataFrame): Boolean = fsRelation(df).exists { r =>
    val parts = r.partitionSchema.fieldNames.map(_.toLowerCase).toSet
    r.dataSchema.fieldNames.exists(n => parts.contains(n.toLowerCase))
  }

  /** Name, size, modification time and file key of one file. */
  private[graft] final case class Stamp(path: String, size: Long,
      modified: java.nio.file.attribute.FileTime, key: AnyRef)

  /** None when a file vanished between listing and stat (or never
    * existed): the caller then neither serves nor stores an entry. */
  private[graft] def stamps(files: Seq[Path]): Option[Seq[Stamp]] = try {
    Some(files.map { f =>
      val a = Files.readAttributes(f,
        classOf[java.nio.file.attribute.BasicFileAttributes])
      Stamp(f.toString, a.size, a.lastModifiedTime, a.fileKey)
    })
  } catch { case _: java.io.IOException => None }

  def region(s: SparkSession, d: String): DataFrame    = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = table(s, d, "lineitem")

  /** `events.parquet` has shipped with two `ts` physical types across
    * harness generations: TIMESTAMP(NANOS) — which Spark's parquet reader
    * rejects outright, so it is read as raw longs
    * (`legacy.parquet.nanosAsLong`) and truncated to micros with integer
    * division (`div`, not `/`: epoch-nanos ≈ 1.7e18 exceeds double's 2^53
    * exact-integer range, so float division would corrupt low-order
    * digits) — and plain TIMESTAMP(MICROS), which both Spark and DuckDB
    * read natively. Dispatch on the decoded type so either layout yields
    * the same TIMESTAMP_LTZ micros column and oracle comparisons agree. */
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // the NTZ→LTZ cast below reinterprets the wall-clock in the SESSION
    // timezone; the whole oracle contract (and the nanos layout's
    // timestamp_micros) is epoch-UTC, so pin the session rather than rely
    // on every entry point having configured it — a non-UTC host shell
    // would otherwise shift every ts by its local offset silently
    s.conf.set("spark.sql.session.timeZone", "UTC")
    val t = table(s, d, "events")
    t.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        t.withColumn("ts", org.apache.spark.sql.functions.expr(
          "timestamp_micros(ts div 1000)"))
      case _: org.apache.spark.sql.types.TimestampNTZType =>
        // `timestamp_micros` above yields TIMESTAMP_LTZ; mirror it for the
        // native-read layout (under the UTC session just pinned, the NTZ
        // wall-clock IS the UTC instant) — downstream epoch extractors
        // (unix_millis, unix_micros) accept only LTZ, and the driver's
        // oracle compare normalizes away the remaining flavor difference
        t.withColumn("ts", org.apache.spark.sql.functions.col("ts")
          .cast(org.apache.spark.sql.types.TimestampType))
      case _ => t
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")
}
