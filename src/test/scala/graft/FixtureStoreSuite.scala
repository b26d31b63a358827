package graft

import java.util.concurrent.{CyclicBarrier, Executors}
import java.util.concurrent.atomic.AtomicInteger
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

/** The build-once contract of [[FixtureStore]]'s two entry points. */
class FixtureStoreSuite extends SparkSuite {

  private val seq = new AtomicInteger(0)
  private def freshKey(tag: String): String =
    s"$tag-${ProcessHandle.current().pid()}-${seq.incrementAndGet()}"

  /** Run `call` on two threads released together by a barrier. */
  private def race[A](call: () => A): Seq[A] = {
    val pool = Executors.newFixedThreadPool(2)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val barrier = new CyclicBarrier(2)
    try {
      val runs = Seq.fill(2)(Future { barrier.await(); call() })
      runs.map(Await.result(_, 60.seconds))
    } finally pool.shutdown()
  }

  test("two threads racing on one new key run the build once") {
    val diskBuilds = new AtomicInteger(0)
    val key = freshKey("race")
    val paths = race(() => FixtureStore.onDisk("storetest", key) { p =>
      diskBuilds.incrementAndGet()
      Thread.sleep(200) // hold the build open while the other thread arrives
      new java.io.File(p).mkdirs(): Unit
    })
    assert(diskBuilds.get === 1)
    assert(paths.distinct.size === 1 && new java.io.File(paths.head).isDirectory)
    FixtureStore.rmTree(new java.io.File(paths.head))

    val valueBuilds = new AtomicInteger(0)
    val sessionKey = freshKey("race-value")
    val values = race(() => FixtureStore.perSession(spark, sessionKey) {
      Thread.sleep(200)
      valueBuilds.incrementAndGet()
    })
    assert(valueBuilds.get === 1)
    assert(values === Seq(1, 1))
  }

  test("a build that throws leaves the key unbuilt, and the next call retries") {
    var attempts = 0
    def flaky(): Int = {
      attempts += 1
      if (attempts == 1) throw new IllegalStateException("first build fails")
      attempts
    }
    val key = freshKey("flaky")
    intercept[IllegalStateException](FixtureStore.perSession(spark, key)(flaky()))
    assert(FixtureStore.perSession(spark, key)(flaky()) === 2)
    assert(FixtureStore.perSession(spark, key)(flaky()) === 2, "built once, then reused")
    assert(attempts === 2)

    // on disk: the retry starts from an empty directory, not the failed
    // attempt's leftovers
    var diskAttempts = 0
    def flakyWrite(p: String): Unit = {
      diskAttempts += 1
      new java.io.File(p).mkdirs()
      val marker = if (diskAttempts == 1) "partial" else "done"
      new java.io.File(p, marker).createNewFile()
      if (diskAttempts == 1) throw new IllegalStateException("write fails")
    }
    val diskKey = freshKey("flaky-disk")
    intercept[IllegalStateException](FixtureStore.onDisk("storetest", diskKey)(flakyWrite))
    val path = FixtureStore.onDisk("storetest", diskKey)(flakyWrite)
    assert(diskAttempts === 2)
    assert(new java.io.File(path, "done").exists())
    assert(!new java.io.File(path, "partial").exists(), "stale attempt not removed")
    FixtureStore.rmTree(new java.io.File(path))
  }

  test("a stopped session's key is swept") {
    // the suite JVM shares one live context, so the sweep a lookup runs
    // for stopped contexts is driven with a predicate naming `s2`
    val s2 = spark.newSession()
    val builds = new AtomicInteger(0)
    val key = freshKey("sweep")
    FixtureStore.perSession(s2, key)(builds.incrementAndGet())
    FixtureStore.perSession(spark, key)(builds.incrementAndGet())
    assert(builds.get === 2)

    FixtureStore.sweep(_ eq s2)
    assert(FixtureStore.perSession(spark, key)(builds.incrementAndGet()) === 2,
      "a live session's value must survive the sweep")
    assert(FixtureStore.perSession(s2, key)(builds.incrementAndGet()) === 3,
      "the swept session's value must rebuild")
  }
}
