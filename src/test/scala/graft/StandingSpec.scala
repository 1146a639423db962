package graft

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.fs.{FileSystem, Path}

/** The build-once contract every standing artifact rests on
  * ([[Standing]]): clear-before-build, memo-after-build, witness and key
  * checks, and one lock per artifact id. Builds here write their
  * `_SUCCESS` witnesses by hand, so each case costs file-system calls
  * only.
  */
class StandingSpec extends SparkSpec {

  private val corpus = "standing-spec"
  private val markers = Seq("a", "b")

  private def fs: FileSystem =
    FileSystem.get(spark.sparkContext.hadoopConfiguration)
  private def witness(base: String, sub: String) =
    new Path(s"$base/$sub/_SUCCESS")
  private def mark(base: String, sub: String): Unit =
    fs.create(witness(base, sub), true).close()

  /** A fresh artifact `name` (no files left from an earlier run). */
  private def fresh(name: String): String = {
    val base = Layout.indexBase(spark, corpus, name)
    fs.delete(new Path(base), true)
    name
  }

  private def task[A](body: => A): java.util.concurrent.Callable[A] =
    new java.util.concurrent.Callable[A] { override def call(): A = body }

  /** Ensure `name` with a build that counts its runs and writes both
    * witnesses. */
  private def ensure(name: String, runs: AtomicInteger,
      params: Any = ()): String =
    Standing.dir(spark, corpus, name, markers, params) { base =>
      runs.incrementAndGet()
      markers.foreach(mark(base, _))
    }

  test("a build that throws partway leaves no marker and no memo; the next call rebuilds") {
    val name = fresh("standing_spec_fail")
    val runs = new AtomicInteger
    val base = ensure(name, runs)
    fs.delete(witness(base, "b"), false)
    intercept[IllegalStateException] {
      Standing.dir(spark, corpus, name, markers) { _ =>
        throw new IllegalStateException("build died partway")
      }
    }
    assert(markers.forall(m => !fs.exists(witness(base, m))),
      "the previous build's marker survived a failed rebuild")
    // even with every witness back on disk, the cleared memo must not
    // vouch for the artifact: the next call rebuilds
    markers.foreach(mark(base, _))
    ensure(name, runs)
    assert(runs.get == 2, "a failed build left a memo entry behind")
  }

  test("a deleted marker forces a rebuild; a present one is served") {
    val name = fresh("standing_spec_marker")
    val runs = new AtomicInteger
    val base = ensure(name, runs)
    assert(ensure(name, runs) == base && runs.get == 1)
    fs.delete(witness(base, "a"), false)
    ensure(name, runs)
    assert(runs.get == 2, "a missing marker did not force a rebuild")
    ensure(name, runs)
    assert(runs.get == 2)
  }

  test("a changed key forces a rebuild") {
    val name = fresh("standing_spec_key")
    val runs = new AtomicInteger
    ensure(name, runs, params = ("geom", 16))
    ensure(name, runs, params = ("geom", 16))
    assert(runs.get == 1)
    ensure(name, runs, params = ("geom", 32))
    assert(runs.get == 2, "a different build key served the old artifact")
    ensure(name, runs, params = ("geom", 32))
    assert(runs.get == 2)
  }

  test("bucketed tables: served while attached, rebuilt on a key change") {
    val runs = new AtomicInteger
    def ensureTable(key: Any): Unit =
      Standing.tables(spark, Seq("graft_standing_spec_bq"), key) {
        runs.incrementAndGet()
        Layout.saveBucketed(spark.range(16).toDF("id"),
          "graft_standing_spec_bq", 2, Seq("id"))
      }
    ensureTable("k1")
    ensureTable("k1")
    assert(runs.get == 1)
    ensureTable("k2")
    assert(runs.get == 2)
    assert(spark.table("graft_standing_spec_bq").count() == 16)
  }

  test("two threads ensuring the SAME artifact run its build once") {
    val name = fresh("standing_spec_same")
    val runs = new AtomicInteger
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(2)
    try {
      val futs = (1 to 2).map(_ => pool.submit(task {
        start.await()
        Standing.dir(spark, corpus, name, markers) { base =>
          runs.incrementAndGet()
          Thread.sleep(200) // hold the build open while the other caller arrives
          markers.foreach(mark(base, _))
        }
      }))
      start.countDown()
      val bases = futs.map(_.get(60, TimeUnit.SECONDS))
      assert(bases.distinct.size == 1)
      assert(runs.get == 1, s"the same artifact was built ${runs.get} times")
    } finally pool.shutdown()
  }

  test("two DIFFERENT artifacts build concurrently (one lock per id)") {
    // each build waits for the OTHER to have started: under one shared
    // lock the first holder would wait out its timeout alone
    val aStarted, bStarted = new CountDownLatch(1)
    def build(name: String, mine: CountDownLatch,
        other: CountDownLatch) = task {
      var overlapped = false
      Standing.dir(spark, corpus, fresh(name), Seq("m")) { base =>
        mine.countDown()
        overlapped = other.await(30, TimeUnit.SECONDS)
        mark(base, "m")
      }
      overlapped
    }
    val pool = Executors.newFixedThreadPool(2)
    try {
      val a = pool.submit(build("standing_spec_x", aStarted, bStarted))
      val b = pool.submit(build("standing_spec_y", bStarted, aStarted))
      assert(a.get(90, TimeUnit.SECONDS) && b.get(90, TimeUnit.SECONDS),
        "independent artifact builds were serialized")
    } finally pool.shutdown()
  }

  test("one marker implementation: no _SUCCESS, marker delete or TrieMap memo outside Standing/Layout") {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root),
      s"source tree not found under ${root.toAbsolutePath}")
    val allowed = Set("graft/Standing.scala", "graft/Layout.scala")
      .map(root.resolve)
    val sources = java.nio.file.Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && !allowed(p)).toList
    assert(sources.sizeIs > 10)
    val offenders = for {
      src <- sources
      (line, i) <- java.nio.file.Files.readAllLines(src).asScala.zipWithIndex
      pat <- Seq("_SUCCESS", "fs.delete(marker", "TrieMap")
      if line.contains(pat)
    } yield s"$src:${i + 1}: $pat"
    assert(offenders.isEmpty,
      "build-once bookkeeping outside graft.Standing:\n" +
        offenders.mkString("\n"))
  }
}
