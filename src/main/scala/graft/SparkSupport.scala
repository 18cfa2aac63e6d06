package graft

/** Shared session plumbing for the harness mains. */
object SparkSupport {

  /** The one session factory for the harness mains: `local[cpus]` with
    * `cpus` from `SPARK_GRAFT_CPUS` (default: every available processor — a
    * fixed default of 4 for an unset variable once ran a recorded bench 8x
    * under-parallelized), as many shuffle partitions as cores, UTC session
    * time, AQE on, no UI, and shuffle scratch on [[scratchDir]].
    *
    * AQE coalescing stays at the Spark DEFAULT (parallelismFirst=true).
    * Round 3 measured the size-based alternative (parallelismFirst=false +
    * 32m advisory): it coalesces any exchange whose BYTES are small to 1
    * partition — but the dedup suite's plans put a C(n,2) pair Generate
    * AFTER such exchanges (collect_list buckets are few MB, their explosion
    * is not), serializing the explosion onto one core: d143 3.6 s vs 2.3 s,
    * d30 2.6 s vs 1.9 s. The floor on the ~105 small queries was unchanged
    * (±3%). Post-shuffle row EXPANSION is invisible to size-based
    * coalescing — the default's min-parallelism guard is the correct
    * setting for this workload. */
  def session(): org.apache.spark.sql.SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", scratchDir)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Raise scan parallelism to the session's shuffle parallelism BEFORE a
    * work-AMPLIFYING stage (an explode ×B replicate fan-out, per-row HOF
    * signature folds) when the scan under-partitions — the local/
    * small-file case where one input task would otherwise own B× the
    * corpus's downstream work (q280 measured 1.87 s with 11 tasks at
    * local[32]: the ×32 replicate explosion ran inside one scan task).
    * At production scale the scan already carries ≥ `parts` partitions
    * and this is a NO-OP — no shuffle is added; the guard reads only
    * planning metadata. */
  def parallelized(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val parts =
      df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    if (df.rdd.getNumPartitions < parts) df.repartition(parts) else df
  }

  /** Run `body` with adaptive query execution OFF, restoring the previous
    * setting afterwards — for the per-round bodies of ITERATIVE kernels
    * over contracted, bounded state (k-core peel, label propagation,
    * min-label/star connected components). AQE materializes every exchange
    * as its own scheduled job (`submitMapStage` per query stage) so it can
    * re-plan between stages; on a per-round plan whose state is a few
    * thousand (long, long) rows, there is nothing to re-plan — the rounds
    * are skew-free by construction (min/label aggregation absorbs hubs
    * map-side) — and the extra jobs are pure scheduler floor that
    * DOMINATES the loop at gate scale (q198: 48 scheduled jobs for ~8
    * rounds, ~60 ms launch floor each). A static plan runs each round as
    * ONE job with pipelined stages. The corpus-scale work (edge building)
    * happens BEFORE the loop under AQE as usual — callers materialize
    * inputs first (persist + first action), then iterate statically.
    * Results are identical either way; this toggles scheduling only. */
  def withoutAqe[T](s: org.apache.spark.sql.SparkSession)(body: => T): T = {
    val key = "spark.sql.adaptive.enabled"
    val prev = s.conf.get(key, "true")
    s.conf.set(key, "false")
    try body finally s.conf.set(key, prev)
  }

  /** Scratch directory for shuffle/spill files (`spark.local.dir`).
    *
    * The bench/verify hosts run on virtualized block storage where small-file
    * metadata operations are slow; shuffle-heavy plans on tiny inputs become
    * latency-bound on shuffle-file creation (measured 3× end-to-end on the
    * dedup suite). Prefer a tmpfs mount when one is present — on a real
    * cluster this maps to provisioning `spark.local.dir` on fast local SSDs,
    * which is standard deployment practice, not a semantics change.
    */
  def scratchDir: String = {
    val shm = new java.io.File("/dev/shm")
    if (shm.isDirectory && shm.canWrite) {
      val d = new java.io.File(shm, "graft-spark-local")
      d.mkdirs()
      d.getAbsolutePath
    } else System.getProperty("java.io.tmpdir", "/tmp")
  }

  /** Per-(corpus, JVM) scratch path for write-then-read-back ROUNDTRIP
    * queries (q21/q22/q63/q64/q107/q113's output side): unlike
    * [[layoutArtifact]] builds, the WRITE is the operator under test and
    * re-runs on every call, so these can't be cached — but the path must
    * still be private to (corpus, JVM): a fixed shared name would let a
    * concurrent different-SF run's overwrite corrupt this JVM's read-back
    * mid-query (silently, when the formats match). The corpus key keeps
    * same-JVM different-SF calls apart; the JVM nonce keeps hosts' JVMs
    * apart. */
  private val jvmNonce: String =
    java.util.UUID.randomUUID().toString.take(8)
  def roundtripPath(kind: String, dir: String): String =
    s"$scratchDir/graft_${kind}_${pathKey(dir)}_$jvmNonce"

  /** Collision-resistant path key for per-corpus scratch artifacts.
    *
    * Scratch layouts (shingle index, gram index, dup/exact pair lists,
    * materialized silver, …) are cached per corpus dir; keying the path by
    * `String.hashCode` would let two distinct dirs silently share one path
    * on a 32-bit collision — the second build overwrites the first and both
    * cache entries read the same (wrong) data with no error. An md5 of the
    * full dir string makes that practically impossible. */
  def pathKey(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** Content fingerprint of a corpus dir: file names + sizes + mtimes,
    * folded into one md5. Folding this into an artifact's path key makes a
    * REGENERATED corpus (same dir, new files — the driver does this between
    * rounds) produce a fresh artifact path instead of a stale read, both
    * within a JVM and across JVMs sharing the scratch dir. */
  def corpusFingerprint(dir: String): String = {
    val entries = Option(new java.io.File(dir).listFiles())
      .getOrElse(Array.empty[java.io.File]).sortBy(_.getName)
      .map(f => s"${f.getName}:${f.length}:${f.lastModified}")
    pathKey(dir + "|" + entries.mkString(","))
  }

  /** Wall-clock nanos spent building persisted corpus layouts this JVM —
    * every [[layoutArtifact]] build adds here. [[graft.Bench]] reads it to
    * split the untimed warm-up into its layout-build share vs its
    * JVM/JIT/codegen share, so the amortized-layout methodology stays
    * auditable (the two costs trend differently as queries are added). */
  val layoutBuildNanos = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Account `f`'s wall-clock to the layout-build total and to `kind`'s
    * own tally (for build sites, e.g. bucketed catalog tables, that cannot
    * route through [[layoutArtifact]]'s path contract). Reentrancy-aware:
    * a layout build that triggers another (dupPairs → d31 → docHashArrays)
    * accrues only the OUTERMOST wall-clock to [[layoutBuildNanos]], and
    * each kind only its own time with nested builds subtracted, so the
    * per-kind tallies sum to the total. */
  def timedLayoutBuild[T](kind: String)(f: => T): T = {
    val outer = nestedNanos.get // null when this build is outermost
    val inner = Array(0L)
    nestedNanos.set(inner)
    val t0 = System.nanoTime()
    try f finally {
      val dt = System.nanoTime() - t0
      nestedNanos.set(outer)
      tally(kind, dt - inner(0), 0L)
      if (outer == null) layoutBuildNanos.addAndGet(dt): Unit
      else outer(0) += dt
    }
  }

  private val nestedNanos = new ThreadLocal[Array[Long]]

  private val kindTally =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, Long)]()

  private def tally(kind: String, nanos: Long, bytes: Long): Unit =
    kindTally.merge(kind, (nanos, bytes), (a, b) => (a._1 + b._1, a._2 + b._2)): Unit

  /** Per-kind layout builds this JVM: kind → (own build seconds, bytes
    * the completed artifacts hold on disk). */
  def layoutBuilds: Map[String, (Double, Long)] = {
    import scala.jdk.CollectionConverters._
    kindTally.asScala.map { case (k, (ns, b)) => k -> (ns / 1e9, b) }.toMap
  }

  /** A persisted layout kind and the version of the code that builds it,
    * declared once beside that code. [[layoutArtifact]] folds both into
    * the artifact key: a build change that alters what it writes bumps
    * `version`, so an artifact an older build left in the shared scratch
    * dir is never served to the new readers (that build's directory stays
    * where it is, still serving the old version). */
  final case class Layout(kind: String, version: Int)

  private val artifactCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  // per-key build locks — NOT computeIfAbsent on artifactCache: layout
  // builds nest (dupPairs builds via d31 which reads shingleIndex), and
  // recursive computeIfAbsent on one ConcurrentHashMap may deadlock or
  // throw. Lock acquisition order follows the build-dependency DAG, so
  // distinct per-key monitors cannot cycle.
  private val artifactLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  private def deleteRecursively(f: java.io.File): Unit = {
    Option(f.listFiles()).getOrElse(Array.empty[java.io.File])
      .foreach(deleteRecursively)
    f.delete(): Unit
  }

  /** Build-once persisted scratch artifact, shared by every corpus layout
    * (shingle/gram/band indexes, pair lists, materialized silver, evolving
    * table). Returns the artifact directory for (kind, corpus dir); `build`
    * runs at most once per (corpus dir CONTENT, kind) per scratch dir:
    *
    *  - the path key folds in [[corpusFingerprint]] and the layout's build
    *    version, so a regenerated corpus or a changed build runs fresh
    *    instead of serving stale data;
    *  - `build` writes into a UNIQUE temp dir that is renamed into place —
    *    concurrent JVMs on the same corpus race on the rename, not on the
    *    bytes, so a reader never sees a half-written artifact (the loser's
    *    temp dir is discarded and the winner's artifact is used);
    *  - a destination left incomplete by a crashed builder (no _SUCCESS
    *    marker) is cleared and rebuilt rather than trusted;
    *  - build wall-clock accrues to [[layoutBuildNanos]], and build time
    *    and artifact bytes to the kind's [[layoutBuilds]] entry.
    */
  def layoutArtifact(layout: Layout, dir: String)(build: String => Unit): String = {
    val kind = layout.kind
    val key = s"$kind|v${layout.version}|$dir|${corpusFingerprint(dir)}"
    val cached = artifactCache.get(key)
    if (cached != null) return cached
    val lock = artifactLocks.computeIfAbsent(key, _ => new Object)
    lock.synchronized {
      val again = artifactCache.get(key) // built while we waited on the lock
      if (again != null) return again
      val dest = new java.io.File(s"$scratchDir/graft_${kind}_${pathKey(key)}")
      if (!new java.io.File(dest, "_SUCCESS").isFile) timedLayoutBuild(kind) {
        var complete = false
        if (dest.exists()) {
          // suspected crashed half-build: evict by ATOMIC rename-to-trash —
          // deleting dest in place would race a concurrent JVM whose
          // completed rename landed between our check and our delete. The
          // trash is INSPECTED before deletion: if it carries _SUCCESS we
          // just stole an artifact another JVM completed after our check
          // (that JVM may have already handed its path to a running query),
          // so the rename is undone and the artifact used as-is instead of
          // destroying files a live query is reading.
          val trash = new java.io.File(
            dest.getPath + ".trash-" + java.util.UUID.randomUUID().toString.take(8))
          if (dest.renameTo(trash)) {
            if (new java.io.File(trash, "_SUCCESS").isFile) {
              if (trash.renameTo(dest)) complete = true
              else if (new java.io.File(dest, "_SUCCESS").isFile) {
                // restore refused because ANOTHER racer re-created a
                // complete dest in the window — use it; the stolen copy in
                // trash is a redundant duplicate, not the only artifact
                complete = true
                deleteRecursively(trash)
              } else throw new IllegalStateException(
                s"layout artifact $dest: could not restore a completed " +
                  s"artifact evicted by the half-build check (left at $trash)")
            } else deleteRecursively(trash)
          } else if (new java.io.File(dest, "_SUCCESS").isFile) {
            complete = true // racer completed it; rename refused because busy
          } else if (dest.exists()) deleteRecursively(dest) // rename refused; fall back
        }
        if (!complete) {
          val tmp = new java.io.File(
            dest.getPath + ".tmp-" + java.util.UUID.randomUUID().toString.take(8))
          build(tmp.getPath)
          if (!tmp.renameTo(dest)) {
            // lost the cross-JVM race: the winner's artifact is in place
            deleteRecursively(tmp)
            require(new java.io.File(dest, "_SUCCESS").isFile,
              s"layout artifact $dest: rename failed and no complete artifact present")
          }
          tally(kind, 0L, org.apache.commons.io.FileUtils.sizeOfDirectory(dest))
        }
      }
      artifactCache.put(key, dest.getPath)
      dest.getPath
    }
  }
}
