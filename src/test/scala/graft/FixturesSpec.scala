package graft

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

/** The fixture memo: build-once per key under concurrency, and values
  * bound to the identity of their owning session.
  */
class FixturesSpec extends SparkTestBase {

  test("concurrent callers of one key build it once and all see that value") {
    val builds = new AtomicInteger(0)
    val callers = 8
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(callers)
    try {
      val results = (1 to callers).map { _ =>
        pool.submit(() => {
          start.await()
          Fixtures.memo(None, "fixtures-spec#once") {
            builds.incrementAndGet()
            Thread.sleep(200) // hold the build open while the others arrive
            new Object
          }
        })
      }
      start.countDown()
      val values = results.map(_.get(30, TimeUnit.SECONDS))
      assert(builds.get == 1)
      assert(values.forall(_ eq values.head))
    } finally pool.shutdownNow()
  }

  test("in-session values are keyed by session identity; written ones are shared") {
    val other = spark.newSession()
    val mine = Fixtures.memo(Some(spark), "fixtures-spec#owned")(new Object)
    val theirs = Fixtures.memo(Some(other), "fixtures-spec#owned")(new Object)
    assert(mine ne theirs)
    assert(Fixtures.memo(Some(spark), "fixtures-spec#owned")(new Object) eq mine)
    val shared = Fixtures.memo(None, "fixtures-spec#written")("dir")
    assert(Fixtures.memo(None, "fixtures-spec#written")("other") == shared)
  }
}
