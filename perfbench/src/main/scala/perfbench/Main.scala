package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Benchmark harness JVM. `run.py` generates the inputs and a plan, then
  * launches this main once per run:
  *
  * {{{
  * perfbench.Main --workload <medallion_refresh|curation_small>
  *   --plan plan.json --out <dir> --trace 0|1 --seconds N --t0-ms <epoch ms>
  * }}}
  *
  * It writes `<out>/result.json` (metrics, manifest, failures) and, when
  * traced, `<out>/spans.jsonl`. `--t0-ms` is when set-up began, so
  * `setup_s` covers input generation as well as this JVM's start. */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val plan = Json.read(opts("plan"))
    val run = new Run(session(), opts("trace") == "1", opts("out"),
      opts("seconds").toInt, opts("t0-ms").toLong)
    try {
      workload match {
        case "medallion_refresh" => new MedallionRefresh(run, plan).run()
        case "curation_small" => new Curation(run, plan).run()
        case other => sys.error(s"unknown workload $other")
      }
      run.finish(workload, plan)
    } finally run.spark.stop()
  }

  /** `graft.Bench`'s session conf plus `spark.sql.caseSensitive=true`, which
    * the NCUA mixed-case columns need (as the test session sets it). */
  def session(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", graft.SparkSupport.scratchDir)
      .config("spark.sql.caseSensitive", "true")
      .config("spark.sql.warehouse.dir", "spark-warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

/** State shared by one run: tracing, counters, operation outcomes and the
  * metrics each workload reports. */
final class Run(val spark: SparkSession, val traced: Boolean, val out: String,
                val seconds: Int, t0Ms: Long) {
  val trace = new Trace(traced)
  val probe: Option[Probe] =
    if (!traced) None
    else {
      val p = new Probe(spark.sparkContext)
      spark.sparkContext.addSparkListener(p)
      Some(p)
    }
  var attempted = 0L
  var failedOps = 0L
  val failures = mutable.ArrayBuffer.empty[String]
  /** End-to-end metrics every workload reports (BENCHMARK.json). */
  val e2e = mutable.LinkedHashMap.empty[String, Double]
  /** Workload-specific end-to-end metrics, with units. */
  val named = mutable.LinkedHashMap.empty[String, (Double, String)]
  /** Per-layer metrics (traced runs). */
  val layers = mutable.LinkedHashMap.empty[String, Double]
  val manifest = mutable.LinkedHashMap.empty[String, Any]
  private var gcAtStart = 0L

  /** Marks the first timed call: set-up ends here. Set-up is reported
    * both as wall time and as this JVM's CPU time up to this point (run.py
    * adds the CPU its own input generation took). */
  def startTimed(): Unit = if (!named.contains("setup_wall_s")) {
    named("setup_wall_s") = ((System.currentTimeMillis() - t0Ms) / 1e3, "s")
    e2e("setup_jvm_cpu_s") = Run.cpuNs / 1e9
    gcAtStart = Run.gcMs
  }

  /** Run one operation (a refresh, read or query). It fails if it throws or
    * if it returns a non-empty list of mismatches. */
  def op(what: String)(body: => Seq[String]): Boolean = {
    attempted += 1
    val errs =
      try body
      catch { case e: Throwable => Seq(s"threw ${e.getClass.getName}: ${e.getMessage}") }
    errs.foreach(e => failures += s"$what: $e")
    if (errs.nonEmpty) failedOps += 1
    errs.isEmpty
  }

  def snap(): Probe.Snap = probe.map(_.snap()).getOrElse(Probe.Zero)

  def finish(workload: String, plan: Map[String, Any]): Unit = {
    val gcS = (Run.gcMs - gcAtStart) / 1e3
    // Bench's scheduling-floor probes, untimed, after the workload
    def minOf5(body: => Unit): Double = (1 to 5).map { _ =>
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e6
    }.min
    val floorMs = minOf5(spark.range(1000000L).count(): Unit)
    val tiny1 = minOf5(spark.range(1000L).count(): Unit)
    val tiny2 = minOf5(spark.range(1000L).repartition(2).count(): Unit)
    val stageIncrMs = math.max(tiny2 - tiny1, 0.0)
    named("peak_rss_mb") = (Run.peakRssMb, "MB")
    if (traced) {
      layers("scheduler.floor_ms") = floorMs
      layers("scheduler.stage_incr_ms") = stageIncrMs
      layers("jvm.gc_s") = gcS
      trace.writeJsonl(s"$out/spans.jsonl")
    }
    manifest ++= Seq(
      "workload" -> workload, "traced" -> traced,
      "nproc" -> Runtime.getRuntime.availableProcessors(),
      "conf" -> spark.conf.getAll.filter { case (k, _) =>
        k.startsWith("spark.sql.") || k == "spark.master" || k == "spark.local.dir"
      }.toSeq.sortBy(_._1).toMap,
      "floor_ms" -> floorMs, "stage_incr_ms" -> stageIncrMs, "gc_s" -> gcS,
      "jit_threads" -> Run.compilerThreadCount, "jit_cpu_s" -> Run.compilerCpuNs / 1e9,
      "scratch_dir" -> graft.SparkSupport.scratchDir,
      "sizes" -> plan.getOrElse("sizes", Map.empty))
    val result = Map(
      "attempted" -> attempted, "failed" -> failedOps,
      "failures" -> failures.toSeq, "e2e" -> e2e, "named" -> named.map {
        case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
      "layers" -> layers, "self_s" -> (if (traced) trace.selfS else Map.empty),
      "manifest" -> manifest)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$out/result.json"), Json.render(result))
  }
}

object Run {
  /** CPU time of this JVM, user + system, of every thread but the JIT
    * compiler's. On a shared host this is steadier than wall time: time the
    * vCPU is stolen by other guests does not count. Compilation is left
    * out because in a run this short it is most of the CPU and varies from
    * run to run; the code it produces is the default JIT's, and its effect
    * on the program's own threads counts. */
  def cpuNs: Long = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime - compilerCpuNs

  /** The JIT compiler threads (`C1 CompilerThread<n>`, `C2 ...`). The JVM
    * runs with a fixed number of them (run.py), so the list is read once. */
  private lazy val compilerThreads: Seq[java.io.File] =
    Option(new java.io.File("/proc/self/task").listFiles()).toSeq.flatten.filter { t =>
      scala.util.Try(readFile(new java.io.File(t, "comm"))).toOption
        .exists(_.contains("CompilerThre")) // comm is cut to 15 characters
    }

  def compilerThreadCount: Int = compilerThreads.size

  /** CPU time of the JIT compiler threads, from `/proc/self/task/<tid>/stat`
    * (utime + stime, in USER_HZ ticks of 10 ms). */
  def compilerCpuNs: Long = compilerThreads.map { t =>
    scala.util.Try {
      val st = readFile(new java.io.File(t, "stat"))
      val f = st.substring(st.lastIndexOf(')') + 2).split(" ")
      (f(11).toLong + f(12).toLong) * 10000000L
    }.getOrElse(0L)
  }.sum

  private def readFile(f: java.io.File): String =
    new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8").trim

  def gcMs: Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum
  }

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb: Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** Bytes and regular files under `dir`. */
  def du(dir: java.io.File): (Long, Long) =
    if (!dir.exists()) (0L, 0L)
    else if (dir.isFile) (dir.length, 1L)
    else Option(dir.listFiles()).getOrElse(Array.empty[java.io.File])
      .map(du).foldLeft((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }
}
