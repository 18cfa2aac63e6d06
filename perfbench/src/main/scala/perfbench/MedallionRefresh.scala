package perfbench

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.pipeline.{Bronze, Gold, LayerPaths, Medallion, Schemas, Silver}
import graft.sources.{DeltaBridge, TxLog}

/** Workload `medallion_refresh`: quarterly refreshes of the paper's
  * pipeline on one growing lake, each followed by a burst of consumer reads
  * of the gold it just published.
  *
  * Plan keys: `lake` (fresh per run), `warmup` (untimed leading quarters),
  * `quarters` (staged dir, expected counts and reads, one per quarter),
  * `min_reads` (per timed burst), `silver_partitions` (the silver write
  * fan-out, sized to the data). A refresh is: bronze append of the five
  * staged inputs, [[Medallion.updateSilverLayer]], then
  * [[Medallion.updateGoldLayerDelta]]. A traced run publishes gold through
  * the same calls that function makes, so `TxLog` and `DeltaBridge` get
  * their own spans, and checks that the result equals a shadow publish by
  * `updateGoldLayerDelta` itself. */
final class MedallionRefresh(run: Run, plan: Map[String, Any]) {
  import MedallionRefresh._
  private val spark = run.spark
  private val trace = run.trace
  private val paths = LayerPaths(plan("lake").toString)
  private val shadow = LayerPaths(plan("lake").toString + "-shadow")
  private val quarters = plan("quarters").asInstanceOf[Seq[Map[String, Any]]]
  private val warmup = num(plan("warmup")).toInt
  private val minReads = num(plan("min_reads")).toInt
  private val silverPartitions = num(plan("silver_partitions")).toInt

  // per-layer accumulators over the timed refreshes
  private val layerSnap = mutable.Map.empty[String, Probe.Snap].withDefaultValue(Probe.Zero)
  private val layerSkew = mutable.Map.empty[String, Double].withDefaultValue(1.0)
  private var goldFiles = 0L
  private var silverRowsOut = 0L
  private var silverRejected = 0L
  private val refreshS = mutable.ArrayBuffer.empty[Double]
  private val refreshCpuS = mutable.ArrayBuffer.empty[Double]
  private val readMs = mutable.ArrayBuffer.empty[Double]
  private val readCpuMs = mutable.ArrayBuffer.empty[Double]
  private val snapshotMs = mutable.ArrayBuffer.empty[Double]
  private val scanMs = mutable.ArrayBuffer.empty[Double]
  private val asofMs = mutable.ArrayBuffer.empty[Double]
  private var readSnap = Probe.Zero
  private var rowsReturned = 0L
  private var timedStartNs = Long.MaxValue

  def run(): Unit = {
    if (run.traced) {
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(shadow.base))
      java.nio.file.Files.createSymbolicLink(
        java.nio.file.Paths.get(shadow.base, "silver"),
        java.nio.file.Paths.get(paths.base, "silver").toAbsolutePath)
    }
    var coldS = 0.0
    var coldCpuS = 0.0
    quarters.zipWithIndex.foreach { case (q, k) =>
      val timed = k >= warmup
      if (timed) { run.startTimed(); timedStartNs = timedStartNs.min(System.nanoTime()) }
      val c0 = Run.cpuNs
      val t0 = System.nanoTime()
      var published = false
      val ok = run.op(s"refresh q$k") {
        trace.span("refresh") { refresh(q("dir").toString, timed) }
        published = true
        Nil
      }
      val dt = (System.nanoTime() - t0) / 1e9
      val cpu = (Run.cpuNs - c0) / 1e9
      if (k == 0) { coldS = dt; coldCpuS = cpu }
      if (timed && ok) { refreshS += dt; refreshCpuS += cpu }
      if (published) {
        // untimed: the refresh's outputs against the generator's counts
        val expect = q("expect").asInstanceOf[Map[String, Any]]
        run.op(s"check q$k")(check(expect))
        if (run.traced) run.op(s"gold equivalence q$k")(shadowCheck())
        reads(q("reads").asInstanceOf[Seq[Map[String, Any]]], k, timed)
      }
    }
    report(coldS, coldCpuS)
  }

  private def refresh(dir: String, timed: Boolean): Unit = {
    layer("pipeline.bronze", timed) {
      Bronze.appendParquet(Bronze.readStagedFdicJson(spark, s"$dir/inst.json",
        Schemas.bankInstitutionFields), paths.bronze("institutions"))
      Bronze.appendParquet(Bronze.readStagedFdicJson(spark, s"$dir/fin.json",
        Schemas.bankFinancialFields), paths.bronze("financials"))
      Seq("foicu" -> "FOICU.txt", "fs220" -> "FS220.txt", "fs220d" -> "FS220D.txt")
        .foreach { case (t, f) =>
          Bronze.appendParquet(Bronze.readNcuaCsv(spark, s"$dir/$f"), paths.bronze(t))
        }
    }
    layer("pipeline.silver", timed)(
      Medallion.updateSilverLayer(spark, paths, silverPartitions))
    val filesBefore = goldStored(paths)._2
    layer("pipeline.gold", timed) {
      if (run.traced) decomposedGold() else Medallion.updateGoldLayerDelta(spark, paths)
    }
    if (timed) goldFiles += goldStored(paths)._2 - filesBefore
  }

  /** `Medallion.updateGoldLayerDelta`, call for call, with a span around
    * each `TxLog` commit and each `DeltaBridge` log export. */
  private def decomposedGold(): Unit = {
    def publish(table: String)(commit: String => Unit): Unit = {
      val path = paths.gold(table)
      trace.span("sources.txlog.commit")(commit(path))
      trace.span("sources.deltabridge.export")(DeltaBridge.exportLog(spark, path))
    }
    val silver = Medallion.readSilver(spark, paths).cache()
    try {
      publish("institution_directory_by_type")(p => TxLog.overwritePartitioned(
        spark, Gold.institutionDirectoryByType(silver), p, Seq("institution_type", "state")))
      publish("assets_deposits_by_state")(p => TxLog.overwritePartitioned(
        spark, Gold.assetsDepositsByState(silver), p, Seq("year", "quarter", "state")))
      publish("quarterly_assets_table")(p =>
        TxLog.overwrite(spark, Gold.quarterlyWide(silver, "assets_total"), p))
      publish("quarterly_deposits_table")(p =>
        TxLog.overwrite(spark, Gold.quarterlyWide(silver, "deposits_total"), p))
    } finally silver.unpersist()
  }

  private def layer[T](name: String, timed: Boolean)(body: => T): T = {
    val before = run.snap()
    val mark = run.probe.map(_.stageMark()).getOrElse(-1)
    val r = trace.span(name)(body)
    if (timed && run.traced) {
      layerSnap(name) = layerSnap(name) + (run.snap() - before)
      layerSkew(name) = math.max(layerSkew(name), run.probe.get.skewAfter(mark))
    }
    r
  }

  /** Bronze rule counts (through the program's own cleanse functions),
    * silver and gold row counts, and gold versions, against the plan. All
    * counts come from one action over a union of one-row aggregates. */
  private def check(expect: Map[String, Any]): Seq[String] = {
    val errs = mutable.ArrayBuffer.empty[String]
    def expectEq(what: String, got: Long, want: Any): Unit =
      if (got != num(want).toLong) errs += s"$what: got $got, expected ${num(want).toLong}"
    val inst = Bronze.readBronze(spark, paths.bronze("institutions"), Schemas.bankInstitutions)
    val instC = Silver.cleanseBankInstitutions(inst)
    val foicu = Silver.cleanseFoicu(spark.read.parquet(paths.bronze("foicu")))
    def nulls(df: DataFrame, c: String) = df.filter(col(c).isNull)
    val silver = Medallion.readSilver(spark, paths)
    val byType = (df: DataFrame, key: String) => df.groupBy("institution_type")
      .agg(count(lit(1)).as("n")).select(concat(lit(key), col("institution_type")), col("n"))
    val counted = Seq(
      "bronze_institutions" -> inst,
      "cleansed_institutions" -> instC,
      "inst_bad_date" -> nulls(instC, "quarter_date"),
      "fin_bad_date" -> nulls(Silver.cleanseBankFinancials(Bronze.readBronze(
        spark, paths.bronze("financials"), Schemas.bankFinancials)), "quarter_date"),
      "unknown_state" -> nulls(foicu, "state"),
      "foicu_bad_date" -> nulls(foicu, "quarter_date"),
      "fs220_bad_date" -> nulls(Silver.cleanseFs220(
        Bronze.readFs220(spark, paths.bronze("fs220"))), "quarter_date"),
      "fs220d_bad_date" -> nulls(Silver.cleanseFs220d(
        spark.read.parquet(paths.bronze("fs220d"))), "quarter_date")) ++
      GoldTables.map(t => s"gold:$t" -> DeltaBridge.read(spark, paths.gold(t)))
    val parts = counted.map { case (k, df) => df.agg(count(lit(1)).as("n")).select(lit(k), col("n")) } ++
      Seq(byType(silver, "silver:"), byType(silver.filter(col("website") === "Not Provided"), "np:"))
    val n = parts.reduce(_ union _).collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      .withDefaultValue(0L)
    val observed = n - "bronze_institutions" - "cleansed_institutions" +
      ("inactive" -> (n("bronze_institutions") - n("cleansed_institutions")))
    expect("bronze_rule_rows").asInstanceOf[Map[String, Any]].foreach { case (r, want) =>
      expectEq(s"bronze rule $r", observed(r), want)
    }
    // every rule but the institution date gate (silver drops that date
    // before the join) removes exactly its planted rows from silver
    silverRejected = Seq("inactive", "fin_bad_date", "unknown_state", "foicu_bad_date",
      "fs220_bad_date", "fs220d_bad_date").map(observed).sum
    val types = expect("silver_rows_by_type").asInstanceOf[Map[String, Any]]
    silverRowsOut = types.keys.map(t => n(s"silver:$t")).sum
    expectEq("silver rows", silverRowsOut, expect("silver_rows"))
    types.foreach { case (t, want) => expectEq(s"silver rows ($t)", n(s"silver:$t"), want) }
    expect("silver_not_provided_by_type").asInstanceOf[Map[String, Any]].foreach {
      case (t, want) => expectEq(s"imputed websites ($t)", n(s"np:$t"), want)
    }
    expect("gold_rows").asInstanceOf[Map[String, Any]].foreach { case (t, want) =>
      val p = paths.gold(t)
      expectEq(s"gold rows $t", n(s"gold:$t"), want)
      expectEq(s"gold txlog versions $t", TxLog.versions(p).size, expect("gold_versions"))
      expectEq(s"gold delta versions $t", DeltaBridge.versions(p).size, expect("gold_versions"))
    }
    errs.toSeq
  }

  /** Traced runs only: `updateGoldLayerDelta` on a shadow lake sharing this
    * lake's silver must give the same versions, live files and rows. */
  private def shadowCheck(): Seq[String] = {
    Medallion.updateGoldLayerDelta(spark, shadow)
    val rows = GoldTables.flatMap(t => Seq(s"a:$t" -> paths.gold(t), s"b:$t" -> shadow.gold(t)))
      .map { case (k, p) => DeltaBridge.read(spark, p).agg(count(lit(1))).select(lit(k), col("count(1)")) }
      .reduce(_ union _).collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    GoldTables.flatMap { t =>
      val (a, b) = (paths.gold(t), shadow.gold(t))
      Seq(
        ("txlog versions", TxLog.versions(a).size.toLong, TxLog.versions(b).size.toLong),
        ("delta versions", DeltaBridge.versions(a).size.toLong, DeltaBridge.versions(b).size.toLong),
        ("live files", TxLog.liveFiles(a).size.toLong, TxLog.liveFiles(b).size.toLong),
        ("rows", rows(s"a:$t"), rows(s"b:$t")))
        .collect { case (what, x, y) if x != y =>
          s"$t $what: decomposed $x, updateGoldLayerDelta $y" }
    }
  }

  /** Consumer reads of the just-published gold. A timed burst cycles
    * through the quarter's seeded reads for `seconds / timed quarters`
    * seconds and at least `minReads` reads; warm-up quarters read once
    * through the list, untimed. */
  private def reads(list: Seq[Map[String, Any]], k: Int, timed: Boolean): Unit = {
    val budgetNs = (run.seconds * 1e9 / (quarters.size - warmup)).toLong
    val t0 = System.nanoTime()
    var i = 0
    def more = if (!timed) i < list.size
      else i < minReads || System.nanoTime() - t0 < budgetNs
    while (more) {
      val r = list(i % list.size)
      i += 1
      val table = r("table").toString
      val version = r.get("version").map(v => num(v).toLong)
      val filter = r("filter").asInstanceOf[Map[String, Any]].map { case (c, v) => c -> v.toString }
      val before = run.snap()
      val c0 = Run.cpuNs
      val a = System.nanoTime()
      var b = a
      var n = -1
      val ok = run.op(s"read q$k #$i $table ${version.getOrElse("")} $filter") {
        trace.span("read") {
          val df = trace.span("sources.read.snapshot") {
            version match {
              case Some(v) => DeltaBridge.read(spark, paths.gold(table), Some(v))
              case None => Medallion.readGoldPartitionedDelta(spark, paths.gold(table), filter)
            }
          }
          b = System.nanoTime()
          n = trace.span("sources.read.scan")(df.collect().length)
        }
        val want = num(r("rows")).toLong
        if (n != want) Seq(s"rows $n, expected $want") else Nil
      }
      val c = System.nanoTime()
      if (timed && ok) {
        readMs += (c - a) / 1e6
        readCpuMs += (Run.cpuNs - c0) / 1e6
        snapshotMs += (b - a) / 1e6
        scanMs += (c - b) / 1e6
        if (version.isDefined) asofMs += (c - a) / 1e6
        if (run.traced) { readSnap = readSnap + (run.snap() - before); rowsReturned += n }
      }
    }
  }

  private def report(coldS: Double, coldCpuS: Double): Unit = {
    val (silverBytes, _) = Run.du(new java.io.File(paths.silver))
    val (goldBytes, storedFiles) = goldStored(paths)
    val ratio = goldBytes.toDouble / math.max(silverBytes, 1L)
    val medallionS = refreshS.sum
    if (refreshS.nonEmpty && readMs.nonEmpty) {
      run.e2e ++= Seq("cold_cpu_s" -> coldCpuS, "warm_cpu_s" -> Run.median(refreshCpuS.toSeq),
        "op_cpu_ms" -> readCpuMs.sum / readCpuMs.size, "bytes_per_input_byte" -> ratio)
      run.named ++= Seq("cold_s" -> (coldS, "s"), "warm_s" -> (Run.median(refreshS.toSeq), "s"),
        "medallion_s" -> (medallionS, "s"),
        "read_p50_ms" -> (Run.quantile(readMs.toSeq, 0.5), "ms"),
        "read_p95_ms" -> (Run.quantile(readMs.toSeq, 0.95), "ms"),
        "gold_bytes_per_silver_byte" -> (ratio, "ratio"))
    }
    run.manifest ++= Seq("lake" -> paths.base, "timed_refreshes" -> refreshS.size,
      "reads" -> readMs.size, "refresh_s" -> refreshS.toSeq)
    if (!run.traced) return
    val L = run.layers
    def put(prefix: String, s: Probe.Snap, keys: String*): Unit = keys.foreach {
      case "jobs" => L(s"$prefix.jobs") = s.jobs.toDouble
      case "stages" => L(s"$prefix.stages") = s.stages.toDouble
      case "shuffle_bytes" => L(s"$prefix.shuffle_bytes") = s.shuffleBytes.toDouble
      case "spill_bytes" => L(s"$prefix.spill_bytes") = s.spillBytes.toDouble
      case "bytes_written" => L(s"$prefix.bytes_written") = s.bytesWritten.toDouble
    }
    L("pipeline.bronze.s") = timedSpan("pipeline.bronze")
    put("pipeline.bronze", layerSnap("pipeline.bronze"), "jobs", "bytes_written")
    L("pipeline.silver.s") = timedSpan("pipeline.silver")
    put("pipeline.silver", layerSnap("pipeline.silver"),
      "jobs", "stages", "shuffle_bytes", "spill_bytes")
    L("pipeline.silver.task_skew") = layerSkew("pipeline.silver")
    L("pipeline.silver.rows_out") = silverRowsOut.toDouble
    L("pipeline.silver.rows_rejected") = silverRejected.toDouble
    L("pipeline.gold.s") = timedSpan("pipeline.gold")
    put("pipeline.gold", layerSnap("pipeline.gold"), "jobs", "stages")
    L("pipeline.gold.files_written") = goldFiles.toDouble
    put("pipeline.gold", layerSnap("pipeline.gold"), "bytes_written", "shuffle_bytes")
    L("sources.txlog.commit_s") = timedSpan("sources.txlog.commit")
    L("sources.deltabridge.export_s") = timedSpan("sources.deltabridge.export")
    L("sources.txlog.versions") = GoldTables.map(t => TxLog.versions(paths.gold(t)).size).sum.toDouble
    L("sources.log_bytes") = GoldTables.flatMap(t => Seq("_graft_log", "_delta_log")
      .map(d => Run.du(new java.io.File(paths.gold(t), d))._1)).sum.toDouble
    L("sources.live_files") = GoldTables.map(t => TxLog.liveFiles(paths.gold(t)).size).sum.toDouble
    L("sources.stored_files") = storedFiles.toDouble
    L("sources.read.snapshot_ms") = Run.median(snapshotMs.toSeq)
    L("sources.read.scan_ms") = Run.median(scanMs.toSeq)
    L("sources.read.asof_ms") = if (asofMs.isEmpty) 0.0 else Run.median(asofMs.toSeq)
    L("sources.read.jobs") = readSnap.jobs.toDouble / readMs.size
    L("sources.read.bytes_read") = readSnap.bytesRead.toDouble / readMs.size
    L("sources.read.rows_scanned_per_row_returned") =
      readSnap.recordsRead.toDouble / math.max(rowsReturned, 1L)
  }

  /** Span seconds over the timed refreshes only. */
  private def timedSpan(name: String): Double = run.trace.totalS(name, timedStartNs)
}

object MedallionRefresh {
  val GoldTables: Seq[String] = Seq("institution_directory_by_type",
    "assets_deposits_by_state", "quarterly_assets_table", "quarterly_deposits_table")

  def num(v: Any): Double = v match {
    case n: Number => n.doubleValue()
    case s => s.toString.toDouble
  }

  /** (bytes, parquet data files) under the four gold tables: data of every
    * retained version plus both logs. */
  def goldStored(paths: LayerPaths): (Long, Long) = {
    val bytes = GoldTables.map(t => Run.du(new java.io.File(paths.gold(t)))._1).sum
    def parquet(f: java.io.File): Long =
      if (f.isFile) (if (f.getName.endsWith(".parquet")) 1L else 0L)
      else Option(f.listFiles()).getOrElse(Array.empty[java.io.File]).map(parquet).sum
    (bytes, GoldTables.map(t => parquet(new java.io.File(paths.gold(t)))).sum)
  }
}
