package graft

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import graft.queries.oncePerDataset
import org.scalatest.funsuite.AnyFunSuite

/** Pins the build-once memo behind the graded queries' per-dataset
  * serving state. No Spark: the builds never touch the session. */
class OncePerDatasetSpec extends AnyFunSuite {

  test("a build runs once per key when 8 callers race on 8 threads") {
    val builds = new ConcurrentHashMap[String, AtomicInteger]()
    val memo = oncePerDataset { (_, d) =>
      builds.computeIfAbsent(d, _ => new AtomicInteger()).incrementAndGet()
      Thread.sleep(50) // hold the build open while the other callers arrive
      new Object
    }
    val pool = Executors.newFixedThreadPool(8)
    try {
      val start = new CountDownLatch(1)
      val calls = (0 until 8).map { i =>
        val key = s"ds${i % 2}"
        pool.submit(() => { start.await(); key -> memo(null, key) })
      }
      start.countDown()
      val results = calls.map(_.get(30, TimeUnit.SECONDS))
      assert(builds.get("ds0").get == 1 && builds.get("ds1").get == 1)
      assert(builds.size == 2)
      results.groupBy(_._1).values.foreach { rs =>
        assert(rs.map(_._2).distinct.size == 1, "every caller of a key sees the one built value")
      }
    } finally pool.shutdownNow()
  }

  test("a build that calls a second memo completes") {
    val inner = oncePerDataset((_, d) => s"model:$d")
    val outer = oncePerDataset((s, d) => s"layout of ${inner(s, d)}")
    assert(outer(null, "ds") == "layout of model:ds")
    assert(inner(null, "ds") == "model:ds")
  }

  test("a build that throws records nothing, and the next call builds again") {
    val builds = new AtomicInteger()
    val memo = oncePerDataset { (_, _) =>
      if (builds.incrementAndGet() == 1) throw new IllegalStateException("first build fails")
      42
    }
    intercept[IllegalStateException](memo(null, "ds"))
    assert(memo(null, "ds") == 42)
    assert(memo(null, "ds") == 42)
    assert(builds.get == 2)
  }
}
