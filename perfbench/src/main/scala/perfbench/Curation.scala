package perfbench

import scala.collection.mutable

import org.apache.spark.sql.Row

/** Workload `curation_small`: the curation queries over a fresh per-run
  * corpus. The first pass is cold and timed (its layouts are built inside
  * the pass); warm passes repeat until `--seconds` have passed.
  *
  * Each query is timed around `collect()` of its result. The cold pass
  * writes every result to `<out>/results/<q>` for the DuckDB oracle check
  * in run.py; every warm result must equal the cold one (an
  * order-independent digest). A query that throws or mismatches is failed
  * and left out of every total. */
final class Curation(run: Run, plan: Map[String, Any]) {
  import Curation.Exec
  private val spark = run.spark
  private val corpus = plan("corpus").toString
  private val queries = plan("queries").asInstanceOf[Seq[String]]
  private val minWarm = MedallionRefresh.num(plan("min_warm_passes")).toInt
  private val registry = graft.SparkEntry.queries

  /** One pass over `Q`: name -> execution, for the queries that succeeded. */
  private def pass(label: String, cold: Boolean): Map[String, Exec] = {
    val done = mutable.LinkedHashMap.empty[String, Exec]
    queries.foreach { q =>
      run.op(s"$label $q") {
        val before = run.snap()
        val c0 = Run.cpuNs
        val t0 = System.nanoTime()
        val (df, rows) = run.trace.span(s"operators.$q") {
          val df = registry(q)(spark, corpus)
          (df, df.collect())
        }
        val dt = (System.nanoTime() - t0) / 1e9
        val cpu = (Run.cpuNs - c0) / 1e9
        val work = run.snap() - before
        spark.catalog.clearCache() // as graft.Bench: per-query persists do not accumulate
        val d = Curation.digest(rows)
        if (cold) {
          spark.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
            .coalesce(1).write.parquet(s"${run.out}/results/$q")
          reference(q) = d
        }
        val errs = if (d != reference.getOrElse(q, d))
          Seq(s"result differs from the cold pass (${rows.length} rows)") else Nil
        if (errs.isEmpty) done(q) = Exec(dt, cpu, work, d)
        errs
      }
    }
    done.toMap
  }

  private val reference = mutable.Map.empty[String, String]

  def run(): Unit = {
    Curation.writeOracleSql(run.out, queries)
    val shm = new java.io.File(graft.SparkSupport.scratchDir)
    val preexisting = Option(shm.list()).map(_.toSet).getOrElse(Set.empty)
    val layoutNs0 = graft.SparkSupport.layoutBuildNanos.get()
    run.startTimed()
    val t0 = System.nanoTime()
    val cold = pass("cold", cold = true)
    val coldS = (System.nanoTime() - t0) / 1e9
    val layoutS = (graft.SparkSupport.layoutBuildNanos.get() - layoutNs0) / 1e9
    // layouts this run built: completed artifact dirs that were not there
    val layouts = Option(shm.listFiles()).getOrElse(Array.empty[java.io.File])
      .filter(f => f.getName.startsWith("graft_") && !preexisting(f.getName) &&
        new java.io.File(f, "_SUCCESS").isFile)
    val layoutBytes = layouts.map(f => Run.du(f)._1).sum
    val corpusBytes = Run.du(new java.io.File(corpus))._1

    val warm = mutable.ArrayBuffer.empty[Map[String, Exec]]
    val w0 = System.nanoTime()
    while (warm.size < minWarm || System.nanoTime() - w0 < run.seconds * 1000000000L)
      warm += pass(s"warm${warm.size + 1}", cold = false)

    val passS = warm.map(_.values.map(_.seconds).sum).toSeq
    val opMs = warm.flatMap(_.values.map(_.seconds * 1e3)).toSeq
    val coldTotal = cold.values.map(_.seconds).sum
    run.e2e ++= Seq("cold_cpu_s" -> cold.values.map(_.cpuS).sum,
      "warm_cpu_s" -> Run.median(warm.map(_.values.map(_.cpuS).sum).toSeq),
      "op_cpu_ms" -> { val ops = warm.flatMap(_.values.map(_.cpuS * 1e3)); ops.sum / ops.size },
      "bytes_per_input_byte" -> layoutBytes.toDouble / math.max(corpusBytes, 1L))
    run.named ++= Seq("cold_s" -> (coldTotal, "s"), "warm_s" -> (Run.median(passS), "s"),
      "op_p50_ms" -> (Run.quantile(opMs, 0.5), "ms"), "op_p95_ms" -> (Run.quantile(opMs, 0.95), "ms"))
    run.named ++= Seq("curation_cold_s" -> (coldTotal, "s"),
      "curation_warm_s" -> (Run.median(passS), "s"))
    run.manifest ++= Seq("corpus" -> corpus, "corpus_bytes" -> corpusBytes,
      "warm_passes" -> warm.size, "cold_pass_s" -> coldS,
      "warm_pass_s" -> passS, "layouts_built" -> layouts.map(_.getName).sorted.toSeq)
    if (!run.traced) return

    val L = run.layers
    queries.foreach { q =>
      val ws = warm.flatMap(_.get(q))
      L(s"operators.$q.warm_s") = if (ws.isEmpty) 0.0 else Run.median(ws.map(_.seconds).toSeq)
      L(s"operators.$q.cold_s") = cold.get(q).map(_.seconds).getOrElse(0.0)
      val last = ws.lastOption.map(_.work).getOrElse(Probe.Zero)
      L(s"operators.$q.jobs") = last.jobs.toDouble
      L(s"operators.$q.stages") = last.stages.toDouble
      L(s"operators.$q.executor_cpu_s") =
        if (ws.isEmpty) 0.0 else Run.median(ws.map(_.work.cpuNs / 1e9).toSeq)
    }
    val perPass = warm.map(_.values.map(_.work).foldLeft(Probe.Zero)(_ + _)).toSeq
    def meanOf(f: Probe.Snap => Double): Double = perPass.map(f).sum / perPass.size
    L("scheduler.jobs") = meanOf(_.jobs.toDouble)
    L("scheduler.stages") = meanOf(_.stages.toDouble)
    L("support.layout_build_s") = layoutS
    L("support.layouts_built") = layouts.length.toDouble
    L("support.layout_bytes") = layoutBytes.toDouble
    L("curation.shuffle_bytes") = meanOf(_.shuffleBytes.toDouble)
    L("curation.spill_bytes") = meanOf(_.spillBytes.toDouble)
    L("curation.executor_cpu_s") = meanOf(_.cpuNs / 1e9)
  }
}

object Curation {
  final case class Exec(seconds: Double, cpuS: Double, work: Probe.Snap, digest: String)

  /** Order-independent digest of a result: md5 over its sorted rows. */
  def digest(rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    rows.map(_.toString).sorted.foreach(r => md.update((r + "\n").getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  /** `SparkEntry.oracleSql` for `queries`, for run.py's DuckDB check. */
  def writeOracleSql(out: String, queries: Seq[String]): Unit = {
    val all = graft.SparkEntry.oracleSql
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$out/oracle_sql.json"),
      Json.render(queries.flatMap(q => all.get(q).map(q -> _)).toMap))
  }
}
