package perfbench

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The harness's own checks: order statistics, listener attribution, and
  * generator determinism.
  */
class HarnessSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val dir = java.nio.file.Files.createTempDirectory("perfbench-spec").toString
  private lazy val spark = Main.session(dir, 2)

  override def afterAll(): Unit = {
    spark.stop()
    Files.delete(dir)
  }

  test("quantiles interpolate between closest ranks") {
    val xs = Seq(4.0, 1.0, 3.0, 2.0)
    assert(Stats.median(xs) == 2.5)
    assert(Stats.quantile(xs, 0.0) == 1.0)
    assert(Stats.quantile(xs, 1.0) == 4.0)
    // h = 3 * 0.9 = 2.7: 3 + 0.7 * (4 - 3)
    assert(math.abs(Stats.quantile(xs, 0.9) - 3.7) < 1e-12)
    assert(Stats.median(Seq(7.0)) == 7.0)
  }

  test("per-type geomean combines each type's own quantile") {
    // type a: 1, 2, 3 (median 2, p90 2.8); type b: 8, 8, 8, 800 (median 8,
    // p90 800 - 0.3 * 792 = 562.4)
    val s = Seq("a" -> 1.0, "a" -> 2.0, "a" -> 3.0,
      "b" -> 8.0, "b" -> 8.0, "b" -> 8.0, "b" -> 800.0)
    assert(math.abs(Stats.perTypeGeomean(s, 0.5) - 4.0) < 1e-12) // sqrt(2 * 8)
    assert(math.abs(Stats.perTypeGeomean(s, 0.9) - math.sqrt(2.8 * 562.4)) < 1e-9)
    // a pooled median would land between the clusters (8); per type it cannot
    assert(Stats.median(s.map(_._2)) == 8.0)
    assert(Stats.minPerType(s) == 3)
  }

  test("listener attribution splits jobs by op window, including pool threads") {
    val h = new Harness(spark, 1L, dir, new Tracer(true))
    h.runPass(1) {
      h.op("three_jobs")(())(_ =>
        (1 to 3).foreach(_ => spark.sparkContext.parallelize(1 to 10, 2).count()))(
        _ => Outcome(ok = true))
      h.op("pool_jobs")(()) { _ =>
        graft.Par.run(Seq.fill(4)(() => spark.sparkContext.parallelize(1 to 10, 3).count()))
      }(_ => Outcome(ok = true))
      h.op("no_jobs")(())(_ => 1 + 1)(_ => Outcome(ok = true))
    }
    val per = h.timedOps.map(r => r.kind -> h.windowCounters(r.window)).toMap
    assert(per("three_jobs").jobs == 3 && per("three_jobs").tasks == 6)
    assert(per("pool_jobs").jobs == 4 && per("pool_jobs").tasks == 12)
    assert(per("no_jobs") == Counters())
    // every window tiles the run: op sums plus harness steps equal the total
    Probe.drain(spark)
    val total = h.probe.get.window(h.windows.head._1, Long.MaxValue)
    val tiled = h.windowCounters.foldLeft(Counters())(_ + _)
    assert(tiled == total)
    assert(h.countersOf(h.timedOps).jobs == total.jobs)
    assert(h.countersOf(h.timedOps).tasks == total.tasks)
  }

  test("the warehouse generator is deterministic in its seed") {
    val a = Warehouse.generate(s"$dir/wa", 11L)
    val b = Warehouse.generate(s"$dir/wb", 11L)
    val c = Warehouse.generate(s"$dir/wc", 12L)
    val (da, db, dc) = (Warehouse.digest(spark, a.dir), Warehouse.digest(spark, b.dir),
      Warehouse.digest(spark, c.dir))
    assert(da == db)
    assert(da != dc)
    assert(a.expected == b.expected)
    assert(Warehouse.parquetBytes(a.dir) == Warehouse.parquetBytes(b.dir))
  }

  private val small = Warehouse.Shape(40, "2020-01-01", "2021-12-31")

  test("the same seed gives the same store bytes per input byte") {
    def ratio(tag: String): Double = {
      val h = new Harness(spark, 5L, s"$dir/$tag", new Tracer(false))
      val snap = Warehouse.generate(s"$dir/$tag/snapshot", 5L, small)
      val store = IngestRun.measured(h, snap, s"$dir/$tag/store")
      assert(h.ops.forall(_.ok), h.failures)
      store.toDouble / Warehouse.parquetBytes(snap.dir)
    }
    assert(ratio("sa") == ratio("sb"))
  }

  test("handler session checks every call against the reference") {
    val h = new Harness(spark, 3L, s"$dir/hs", new Tracer(false))
    val w = new HandlerSession(small)
    w.setup(h)
    h.runPass(1)(w.pass(h))
    assert(h.failures.isEmpty, h.failures)
    // set-up requires the reference to reject exactly the marked requests
    assert(h.timedOps.count(_.kind == "handler.invalid_ticker") == 1)
    assert(h.timedOps.count(_.kind == "handler.invalid_field") == 1)
    assert(h.timedOps.map(_.kind).toSet.size == 11) // 9 methods + 2 invalid kinds
  }
}
