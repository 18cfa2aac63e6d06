package graft.operators

import graft.Tables
import graft.functions.OracleSafe.dsum
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** Typed `Dataset[T]` surface and the remaining API tiers the engine must
  * expose for completeness: case-class Encoders with `groupByKey` + typed
  * `Aggregator` (the type-safe path that KEEPS map-side partial
  * aggregation), the Scala-UDF tier (deliberately the worst tier — shown
  * once, with its native replacement alongside), and a driver-built Bloom
  * prefilter in front of an exact semi-join (the manual form of Spark's
  * runtime row-level filtering).
  */
object TypedOps {

  /** Typed view of the orders table. */
  case class Order(o_orderkey: Long, o_custkey: Long, o_totalprice: Double,
                   o_orderpriority: String)

  /** Typed Aggregator: exact floor-dollar total. Unlike
    * `groupByKey.mapGroups` (which materializes every group's rows on one
    * task with NO partial aggregation — a scale trap), an `Aggregator`
    * feeds Spark's normal partial/final hash aggregation: the buffer
    * reduces map-side, only (key, buffer) rows shuffle. */
  private val floorTotal: Aggregator[Order, Long, Long] =
    new Aggregator[Order, Long, Long] {
      def zero: Long = 0L
      def reduce(b: Long, o: Order): Long = b + math.floor(o.o_totalprice).toLong
      def merge(a: Long, b: Long): Long = a + b
      def finish(b: Long): Long = b
      def bufferEncoder: org.apache.spark.sql.Encoder[Long] = Encoders.scalaLong
      def outputEncoder: org.apache.spark.sql.Encoder[Long] = Encoders.scalaLong
    }

  private val orderCount: Aggregator[Order, Long, Long] =
    new Aggregator[Order, Long, Long] {
      def zero: Long = 0L
      def reduce(b: Long, o: Order): Long = b + 1L
      def merge(a: Long, b: Long): Long = a + b
      def finish(b: Long): Long = b
      def bufferEncoder: org.apache.spark.sql.Encoder[Long] = Encoders.scalaLong
      def outputEncoder: org.apache.spark.sql.Encoder[Long] = Encoders.scalaLong
    }

  /** q80: typed aggregation — compile-time-checked schema in, relational
    * hash aggregate out. The plan is identical to the untyped groupBy
    * (one shuffle, partial agg); the Encoder round-trip is the only cost. */
  def q80TypedAgg(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.orders(s, dir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
        col("o_orderpriority"))
      .as[Order]
      .groupByKey(_.o_custkey)
      .agg(floorTotal.toColumn.name("floor_total"),
        orderCount.toColumn.name("n_orders"))
      .toDF("o_custkey", "floor_total", "n_orders")
      .orderBy("o_custkey")
  }

  val q80Sql: String =
    """SELECT o_custkey,
      |  CAST(SUM(CAST(floor(o_totalprice) AS BIGINT)) AS BIGINT) AS floor_total,
      |  count(*) AS n_orders
      |FROM orders GROUP BY o_custkey ORDER BY o_custkey""".stripMargin

  /** q81: the Scala-UDF tier (reference's D1/X13 surface, SURVEY.md §2.12).
    * A JVM lambda — no Python worker hop, but still an optimization
    * barrier: Catalyst can't push through it, fold it, or codegen it.
    * The same derivation is computed natively alongside and asserted equal
    * in-plan, documenting the replacement path the engine prefers. */
  def q81ScalaUdf(s: SparkSession, dir: String): DataFrame = {
    val prio = udf((p: String) => p.split("-")(0).trim.toInt)
    Tables.orders(s, dir)
      .withColumn("prio_udf", prio(col("o_orderpriority")))
      .withColumn("prio_native",
        split(col("o_orderpriority"), "-").getItem(0).cast("int"))
      .filter(col("prio_udf") === col("prio_native")) // law: tiers agree
      .groupBy(col("prio_udf").as("priority"))
      .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("sum_price"))
      .orderBy("priority")
  }

  val q81Sql: String =
    """SELECT CAST(string_split(o_orderpriority, '-')[1] AS INTEGER) AS priority,
      |  count(*) AS n_orders,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS sum_price
      |FROM orders GROUP BY 1 ORDER BY priority""".stripMargin

  /** q76: Bloom-prefiltered join — the manual form of runtime row-level
    * filtering (Spark's `spark.sql.optimizer.runtime.bloomFilter`, here
    * made explicit so the mechanics are visible and testable).
    *
    * The small side's keys build a Bloom filter via Spark's own
    * `bloom_filter_agg` evaluated as a SCALAR SUBQUERY — the sketch never
    * visits the driver (contrast `df.stat.bloomFilter`, which collects it).
    * The fact scan drops non-candidate rows MAP-SIDE through the codegen'd
    * `might_contain` probe before any shuffle, and the exact broadcast
    * semi-join afterwards removes the false positives — so results are
    * exact, while the shuffle/join volume is cut to ~|matching| + ε. At
    * 100 TB this is the difference between shuffling the whole fact table
    * and shuffling the 1% that can match. 20_000 bits ≈ 1% fpp at the
    * 2_000-key estimate (the same sizing the old driver-side build used). */
  def q76BloomPrefilter(s: SparkSession, dir: String): DataFrame = {
    val hot = Tables.customer(s, dir)
      .filter(col("c_acctbal") > 9000).select(col("c_custkey"))
    hot.createOrReplaceTempView("graft_q76_hot")
    Tables.orders(s, dir)
      .filter(expr( // approximate, map-side, fully in-plan
        """might_contain(
          |  (SELECT bloom_filter_agg(c_custkey, 2000L, 20000L) FROM graft_q76_hot),
          |  o_custkey)""".stripMargin))
      .join(broadcast(hot), col("o_custkey") === col("c_custkey"), "left_semi") // exact
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("sum_price"))
      .orderBy("o_orderstatus")
  }

  val q76Sql: String =
    """SELECT o_orderstatus, count(*) AS n_orders,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS sum_price
      |FROM orders
      |WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_acctbal > 9000)
      |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q80_typed_agg"       -> q80TypedAgg,
    "q81_scala_udf"       -> q81ScalaUdf,
    "q76_bloom_prefilter" -> q76BloomPrefilter)

  val oracle: Map[String, String] = Map(
    "q80_typed_agg"       -> q80Sql,
    "q81_scala_udf"       -> q81Sql,
    "q76_bloom_prefilter" -> q76Sql)
}
