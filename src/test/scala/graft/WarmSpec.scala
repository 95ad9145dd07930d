package graft

import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.LogicalRDD
import org.scalatest.funsuite.AnyFunSuite

/** The warm-state catalog ([[Warm]]): build-once per entry, entries that
  * never wait on each other's builds, failed builds that leave nothing
  * behind, nested builds, the per-session purge and the per-(name, dir)
  * scratch naming. Every entry name here starts with `warmspec.`, so the
  * registry's own entries are never touched.
  */
class WarmSpec extends AnyFunSuite with SparkFixture {

  private def onThreads[T](n: Int)(body: Int => T): Seq[T] = {
    val pool = Executors.newFixedThreadPool(n)
    try (0 until n).map(i => pool.submit(new Callable[T] { def call(): T = body(i) }))
      .map(_.get(60, TimeUnit.SECONDS))
    finally pool.shutdownNow()
  }

  test("dead-session entries are purged on access, live entries are " +
    "served from the catalog") {
    val other = spark.newSession()
    val builds = new AtomicInteger
    def get(s: SparkSession): SparkSession =
      Warm.session("warmspec.purge", s, "x") { builds.incrementAndGet(); s }
    val jvmBuilds = new AtomicInteger
    def jvm(): Int = Warm.value("warmspec.purge.jvm", "x")(jvmBuilds.incrementAndGet())
    assert((get(spark) eq spark) && (get(other) eq other) && jvm() == 1)
    get(spark); get(other)
    assert(builds.get == 2, "live entries must be served, not rebuilt")
    // The purge, driven with an explicit liveness predicate: local-mode
    // sessions share one SparkContext, so a really stopped session can't
    // be made without killing the fixture.
    Warm.purge(_ eq other)
    assert(get(spark) eq spark)
    assert(builds.get == 2, "a live session's entry must survive the purge")
    assert(get(other) eq other)
    assert(builds.get == 3, "a dead session's entry must be dropped")
    assert(jvm() == 1 && jvmBuilds.get == 1,
      "per-JVM entries have no session and are never purged")
  }

  test("concurrent callers of one entry cause one build") {
    val n = 4
    val started = new CountDownLatch(n)
    val builds = new AtomicInteger
    val got = onThreads(n) { _ =>
      started.countDown()
      assert(started.await(30, TimeUnit.SECONDS))
      Warm.value("warmspec.once", "d") { builds.incrementAndGet(); new Object }
    }
    assert(builds.get == 1)
    assert(got.forall(_ eq got.head))
  }

  test("a slow build of one entry does not block another entry") {
    val aStarted = new CountDownLatch(1)
    val releaseA = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(2)
    try {
      val a = pool.submit(new Callable[String] {
        def call(): String = Warm.value("warmspec.slowA", "d") {
          aStarted.countDown()
          assert(releaseA.await(60, TimeUnit.SECONDS))
          "a"
        }
      })
      assert(aStarted.await(30, TimeUnit.SECONDS))
      val b = pool.submit(new Callable[String] {
        def call(): String = Warm.value("warmspec.slowB", "d")("b")
      })
      // A is still building; B must not wait for it
      assert(b.get(30, TimeUnit.SECONDS) == "b")
      assert(!a.isDone)
      releaseA.countDown()
      assert(a.get(30, TimeUnit.SECONDS) == "a")
    } finally { releaseA.countDown(); pool.shutdownNow() }
  }

  test("a build that throws leaves no entry behind and is retried") {
    val builds = new AtomicInteger
    def get(): Int = Warm.value("warmspec.throws", "d") {
      if (builds.incrementAndGet() == 1) throw new IllegalStateException("boom")
      42
    }
    assert(intercept[IllegalStateException](get()).getMessage == "boom")
    assert(get() == 42 && get() == 42)
    assert(builds.get == 2)
  }

  test("builds nest: an entry's build may read other entries") {
    val v = Warm.value("warmspec.outer", "d") {
      Warm.value("warmspec.middle", "d")(Warm.value("warmspec.inner", "d")(1) + 1) + 1
    }
    assert(v == 3)
    val f = Warm.frame("warmspec.outerFrame", spark, "d")(
      Warm.frame("warmspec.innerFrame", spark, "d")(spark.range(5).toDF("id")).df)
    assert(f.rows == 5 && f.df.count() == 5)
  }

  test("frames are cut once, by the catalog") {
    val f = Warm.frame("warmspec.cut", spark, "d")(spark.range(3).toDF("id"))
    assert(f.df.queryExecution.logical.isInstanceOf[LogicalRDD],
      f.df.queryExecution.logical.toString)
    assert(Warm.frame("warmspec.cut", spark, "d")(fail("rebuilt")) eq f)
  }

  test("sf0.001 and sf0.01 interleaved across two sessions: no cross-talk " +
    "between fixtures or sessions") {
    val other = spark.newSession()
    val dirs = Seq(sf0001, sf001)
    val sessions = Seq(spark, other)
    val rows = dirs.map(d => d -> Tables.lineitem(spark, d).count()).toMap
    assert(rows(sf0001) != rows(sf001))
    def frame(d: String, s: SparkSession) =
      Warm.frame("warmspec.lineitem", s, d)(Tables.lineitem(s, d).select("l_orderkey"))
    def copy(d: String) = Warm.disk("warmspec.copy", d) { p =>
      Tables.lineitem(spark, d).write.parquet(s"$p/li"); s"$p/li"
    }
    val frames = (for (d <- dirs; s <- sessions) yield {
      copy(d); (d, s) -> frame(d, s)
    }).toMap
    val paths = dirs.map(d => d -> copy(d)).toMap
    assert(paths(sf0001) != paths(sf001))
    // second pass, reversed: every entry is served as built, none rebuilt
    for (d <- dirs.reverse; s <- sessions.reverse) {
      assert(frame(d, s) eq frames((d, s)))
      assert(copy(d) == paths(d))
    }
    frames.foreach { case ((d, s), f) =>
      assert(f.df.sparkSession eq s, s"$d: frame bound to another session")
      assert(f.df.count() == rows(d), s"$d: frame holds another fixture's rows")
    }
    dirs.foreach(d => assert(spark.read.parquet(paths(d)).count() == rows(d),
      s"$d: copy holds another fixture's rows"))
    // a registry entry on the same footing: the DSv2 topic of each fixture
    val topics = dirs.map(d => d -> operators.DsV2.topicMeta(other, d)).toMap
    assert(topics(sf0001)._1 != topics(sf001)._1)
    dirs.foreach { d =>
      assert(operators.DsV2.topicMeta(spark, d) == topics(d))
      assert(topics(d)._2 == Tables.events(spark, d).count())
    }
  }
}
