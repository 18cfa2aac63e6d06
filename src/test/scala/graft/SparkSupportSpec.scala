package graft

import org.scalatest.funsuite.AnyFunSuite

/** Durability contract of [[SparkSupport.layoutArtifact]] — the build-once
  * persisted-layout helper every corpus artifact (shingle/gram/band
  * indexes, pair lists, materialized silver, evolving table) routes
  * through. No SparkSession needed: the contract is pure filesystem +
  * memoization behavior, exercised with a plain-file "build". */
class SparkSupportSpec extends AnyFunSuite {
  import SparkSupport.Layout

  private def mkCorpus(): java.io.File = {
    val d = java.nio.file.Files.createTempDirectory("graft_corpus_").toFile
    val f = new java.io.File(d, "table.parquet")
    java.nio.file.Files.writeString(f.toPath, "v1")
    d
  }

  /** A `build` standing in for a parquet write: one file + _SUCCESS. */
  private def fakeBuild(counter: java.util.concurrent.atomic.AtomicInteger)(
      p: String): Unit = {
    counter.incrementAndGet()
    val dir = new java.io.File(p)
    dir.mkdirs()
    java.nio.file.Files.writeString(
      new java.io.File(dir, "part-00000").toPath, "data")
    java.nio.file.Files.writeString(
      new java.io.File(dir, "_SUCCESS").toPath, "")
  }

  test("builds once per corpus content and memoizes the path") {
    val corpus = mkCorpus()
    val n = new java.util.concurrent.atomic.AtomicInteger(0)
    val p1 = SparkSupport.layoutArtifact(Layout("spec_a", 1), corpus.getPath)(fakeBuild(n))
    val p2 = SparkSupport.layoutArtifact(Layout("spec_a", 1), corpus.getPath)(fakeBuild(n))
    assert(p1 == p2)
    assert(n.get == 1, "second call must hit the cache, not rebuild")
    assert(new java.io.File(p1, "_SUCCESS").isFile)
  }

  test("a regenerated corpus (content change) gets a FRESH artifact path") {
    val corpus = mkCorpus()
    val n = new java.util.concurrent.atomic.AtomicInteger(0)
    val p1 = SparkSupport.layoutArtifact(Layout("spec_b", 1), corpus.getPath)(fakeBuild(n))
    // regenerate the corpus: same dir, different bytes + mtime (the driver
    // does exactly this between rounds — see the round-4 events.ts episode)
    val f = new java.io.File(corpus, "table.parquet")
    java.nio.file.Files.writeString(f.toPath, "v2-regenerated")
    f.setLastModified(f.lastModified() + 5000)
    val p2 = SparkSupport.layoutArtifact(Layout("spec_b", 1), corpus.getPath)(fakeBuild(n))
    assert(p1 != p2, "stale artifact must not be served for new corpus content")
    assert(n.get == 2)
  }

  test("a failed build is not cached; the next call rebuilds cleanly") {
    val corpus = mkCorpus()
    val n = new java.util.concurrent.atomic.AtomicInteger(0)
    intercept[RuntimeException] {
      SparkSupport.layoutArtifact(Layout("spec_c", 1), corpus.getPath) { p =>
        fakeBuild(n)(p) // bytes land in the temp dir...
        throw new RuntimeException("simulated builder crash before rename")
      }
    }
    // the half-built temp dir was never renamed into place, so the retry
    // sees no destination and builds fresh
    val p = SparkSupport.layoutArtifact(Layout("spec_c", 1), corpus.getPath)(fakeBuild(n))
    assert(new java.io.File(p, "_SUCCESS").isFile)
    assert(n.get == 2)
  }

  test("distinct kinds and distinct corpora never share a path") {
    val c1 = mkCorpus(); val c2 = mkCorpus()
    val n = new java.util.concurrent.atomic.AtomicInteger(0)
    val paths = Seq(
      SparkSupport.layoutArtifact(Layout("spec_e", 1), c1.getPath)(fakeBuild(n)),
      SparkSupport.layoutArtifact(Layout("spec_f", 1), c1.getPath)(fakeBuild(n)),
      SparkSupport.layoutArtifact(Layout("spec_e", 1), c2.getPath)(fakeBuild(n)))
    assert(paths.distinct.size == 3)
    assert(n.get == 3)
  }

  test("concurrent callers for one key build exactly once") {
    val corpus = mkCorpus()
    val n = new java.util.concurrent.atomic.AtomicInteger(0)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      val tasks = (1 to 8).map { _ =>
        pool.submit(new java.util.concurrent.Callable[String] {
          def call(): String =
            SparkSupport.layoutArtifact(Layout("spec_g", 1), corpus.getPath) { p =>
              Thread.sleep(50) // widen the race window
              fakeBuild(n)(p)
            }
        })
      }
      val paths = tasks.map(_.get(30, java.util.concurrent.TimeUnit.SECONDS))
      assert(paths.distinct.size == 1)
      assert(n.get == 1, "per-key lock must serialize to a single build")
    } finally pool.shutdown()
  }

  test("a bumped build version builds a fresh artifact, leaves the old " +
    "directory untouched, and the old version is still served unbuilt") {
    val corpus = mkCorpus()
    val n = new java.util.concurrent.atomic.AtomicInteger(0)
    val v1 = SparkSupport.layoutArtifact(Layout("spec_v", 1), corpus.getPath)(fakeBuild(n))
    def listing(p: String) = new java.io.File(p).listFiles().map(f =>
      (f.getName, f.length, f.lastModified)).sorted.toSeq
    val before = listing(v1)
    val v2 = SparkSupport.layoutArtifact(Layout("spec_v", 2), corpus.getPath)(fakeBuild(n))
    assert(v2 != v1, "a bumped version must not be served the old artifact")
    assert(n.get == 2 && new java.io.File(v2, "_SUCCESS").isFile)
    assert(listing(v1) == before, "the old version's directory must be untouched")
    val again = SparkSupport.layoutArtifact(Layout("spec_v", 1), corpus.getPath)(_ =>
      fail("the old version must be served, not rebuilt"))
    assert(again == v1 && n.get == 2)
    // both builds land in the kind's byte tally: 4 bytes of data each
    assert(SparkSupport.layoutBuilds("spec_v")._2 == 8L)
  }

  test("per-kind build seconds exclude nested builds and sum to the " +
    "outermost wall-clock") {
    val corpus = mkCorpus()
    val n = new java.util.concurrent.atomic.AtomicInteger(0)
    val t0 = System.nanoTime()
    SparkSupport.layoutArtifact(Layout("spec_outer", 1), corpus.getPath) { p =>
      SparkSupport.layoutArtifact(Layout("spec_inner", 1), corpus.getPath) { q =>
        Thread.sleep(150); fakeBuild(n)(q)
      }
      Thread.sleep(150); fakeBuild(n)(p)
    }
    val wall = (System.nanoTime() - t0) / 1e9
    val outer = SparkSupport.layoutBuilds("spec_outer")._1
    val inner = SparkSupport.layoutBuilds("spec_inner")._1
    assert(inner >= 0.15 && outer >= 0.15, s"outer $outer, inner $inner")
    assert(outer < wall - 0.14, s"outer $outer must exclude the nested build")
    assert(math.abs(outer + inner - wall) < 0.05, s"$outer + $inner vs $wall")
  }
}
