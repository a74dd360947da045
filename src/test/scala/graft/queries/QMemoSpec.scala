package graft.queries

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers

/** [[Q.memo]] computes each key once, even when two threads miss at the
  * same time, and does not serialize distinct keys behind each other. */
class QMemoSpec extends AnyFlatSpec with Matchers {

  /** Wait until `t` is parked or blocked (or has finished). */
  private def awaitStalled(t: Thread): Unit = {
    val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(10)
    while (t.isAlive && t.getState == Thread.State.RUNNABLE && System.nanoTime() < deadline)
      Thread.sleep(5)
  }

  behavior of "Q.memo"

  it should "run one compute when two threads miss the same key together" in {
    val map = new ConcurrentHashMap[String, String]()
    val computes = new AtomicInteger
    val started = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    def compute(): String = {
      computes.incrementAndGet()
      started.countDown()
      release.await(10, TimeUnit.SECONDS)
      "v"
    }
    val results = new ConcurrentHashMap[String, String]()
    val first = new Thread(() => results.put("first", Q.memo(map, "k")(compute())))
    val second = new Thread(() => results.put("second", Q.memo(map, "k")(compute())))
    first.start()
    started.await(10, TimeUnit.SECONDS) shouldBe true
    // the second caller waits, on the key's lock or (if it computed too)
    // on the latch, before the first compute may finish
    second.start()
    awaitStalled(second)
    release.countDown()
    Seq(first, second).foreach(_.join(10000))
    computes.get shouldBe 1
    results.get("first") shouldBe "v"
    results.get("second") shouldBe "v"
  }

  it should "compute distinct keys concurrently" in {
    val map = new ConcurrentHashMap[String, String]()
    val bothIn = new CountDownLatch(2)
    def compute(v: String): String = {
      bothIn.countDown()
      bothIn.await(10, TimeUnit.SECONDS) shouldBe true
      v
    }
    val a = new Thread(() => Q.memo(map, "a")(compute("A")))
    val b = new Thread(() => Q.memo(map, "b")(compute("B")))
    Seq(a, b).foreach(_.start())
    Seq(a, b).foreach(_.join(20000))
    map.get("a") shouldBe "A"
    map.get("b") shouldBe "B"
  }

  it should "cache nothing when the compute throws" in {
    val map = new ConcurrentHashMap[String, String]()
    an[IllegalStateException] should be thrownBy Q.memo(map, "k")(throw new IllegalStateException)
    Q.memo(map, "k")("v") shouldBe "v"
  }
}
