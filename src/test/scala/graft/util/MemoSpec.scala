package graft.util

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import graft.SparkSpec
import graft.queries.Q

/** Contract spec for [[Memo]]: compute-once under concurrency (same key
  * waits, distinct keys run in parallel, nested builds of two keys on two
  * threads finish), nothing cached on a throw, LRU bounds on both kinds
  * with unpersist of a dropped frame, session invalidation, fingerprint
  * keys, and the per-thread read scope. The registry is JVM-global, so
  * every case uses fresh keys.
  */
class MemoSpec extends SparkSpec {

  private def freshKey(tag: String): String =
    s"spec_${tag}_${System.nanoTime()}"

  private def frame(n: Int) = {
    import spark.implicits._
    val df = (1 to n).toDF("v")
    df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    df.count()
    df
  }

  /** Wait until `t` is parked or blocked (or has finished). */
  private def awaitStalled(t: Thread): Unit = {
    val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(10)
    while (t.isAlive && t.getState == Thread.State.RUNNABLE && System.nanoTime() < deadline)
      Thread.sleep(5)
  }

  behavior of "Memo"

  it should "run one compute when two threads miss the same key together" in {
    val k = freshKey("same")
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
    val first = new Thread(() => results.put("first", Memo.scalar("spec", k)(compute())))
    val second = new Thread(() => results.put("second", Memo.scalar("spec", k)(compute())))
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
    val (ka, kb) = (freshKey("a"), freshKey("b"))
    val bothIn = new CountDownLatch(2)
    def compute(v: String): String = {
      bothIn.countDown()
      bothIn.await(10, TimeUnit.SECONDS) shouldBe true
      v
    }
    val a = new Thread(() => Memo.scalar("spec", ka)(compute("A")))
    val b = new Thread(() => Memo.scalar("spec", kb)(compute("B")))
    Seq(a, b).foreach(_.start())
    Seq(a, b).foreach(_.join(20000))
    Memo.scalar[String]("spec", ka)(fail("recomputed a")) shouldBe "A"
    Memo.scalar[String]("spec", kb)(fail("recomputed b")) shouldBe "B"
  }

  it should "cache nothing when the compute throws" in {
    val k = freshKey("throw")
    an[IllegalStateException] should be thrownBy Memo.scalar[String]("spec", k)(throw new IllegalStateException)
    Memo.scalar("spec", k)("v") shouldBe "v"
  }

  it should "finish a nested build of two keys on two threads without deadlock" in {
    // lm_scored -> gram_counts: thread 1 builds the outer key, whose build
    // reads the inner key that thread 2 is building at that moment
    val (outer, inner) = (freshKey("outer"), freshKey("inner"))
    val innerIn = new CountDownLatch(1)
    val outerIn = new CountDownLatch(1)
    val innerBuilds = new AtomicInteger
    def innerValue(): String = Memo.scalar("spec", inner) {
      innerBuilds.incrementAndGet()
      innerIn.countDown()
      outerIn.await(10, TimeUnit.SECONDS)
      "I"
    }
    val results = new ConcurrentHashMap[String, String]()
    val t2 = new Thread(() => results.put("inner", innerValue()))
    val t1 = new Thread(() => results.put("outer", Memo.scalar("spec", outer) {
      innerIn.await(10, TimeUnit.SECONDS)
      outerIn.countDown()
      innerValue() + "O"
    }))
    t2.start()
    innerIn.await(10, TimeUnit.SECONDS) shouldBe true
    t1.start()
    Seq(t1, t2).foreach(_.join(20000))
    Seq(t1, t2).foreach(_.isAlive shouldBe false)
    results.get("inner") shouldBe "I"
    results.get("outer") shouldBe "IO"
    innerBuilds.get shouldBe 1
  }

  it should "build a frame exactly once per key and return the same frame" in {
    var builds = 0
    val k = freshKey("once")
    def get() = Memo.frame(spark, "spec", k) { builds += 1; frame(5) }
    val a = get(); val b = get()
    builds shouldBe 1
    (a eq b) shouldBe true
    a.count() shouldBe 5L
  }

  it should "keep distinct keys as distinct artifacts" in {
    val a = Memo.frame(spark, "spec", freshKey("a")) { frame(3) }
    val b = Memo.frame(spark, "spec", freshKey("b")) { frame(7) }
    a.count() shouldBe 3L
    b.count() shouldBe 7L
  }

  it should "displace the least-recently-used frame past capacity and unpersist it" in {
    val first = freshKey("lru0")
    val victim = Memo.frame(spark, "spec", first) { frame(2) }
    victim.storageLevel.useMemory shouldBe true
    // flood the registry past MaxFrames with fresh keys; the eldest
    // (victim) must be displaced and unpersisted
    (1 to Memo.MaxFrames + 2).foreach { i =>
      Memo.frame(spark, "spec", freshKey(s"lru$i")) { frame(2) }
    }
    victim.storageLevel.useMemory shouldBe false // evicted → unpersisted
    var rebuilt = false
    Memo.frame(spark, "spec", first) { rebuilt = true; frame(2) }
    rebuilt shouldBe true // the displaced key builds anew
  }

  it should "drop the least-recently-used scalar past its bound" in {
    val first = freshKey("s0")
    Memo.scalar("spec", first)(0)
    val flood = (1 to Memo.MaxScalars).map(i => freshKey(s"s$i"))
    flood.zipWithIndex.foreach { case (k, i) => Memo.scalar("spec", k)(i + 1) }
    Memo.scalar[Int]("spec", flood.last)(fail("newest scalar was dropped")) shouldBe Memo.MaxScalars
    var recomputed = false
    Memo.scalar("spec", first) { recomputed = true; 0 }
    recomputed shouldBe true
  }

  it should "invalidate all artifacts of a session" in {
    val k = freshKey("inv")
    val df = Memo.frame(spark, "spec", k) { frame(4) }
    Memo.invalidate(spark)
    df.storageLevel.useMemory shouldBe false
    var rebuilt = false
    Memo.frame(spark, "spec", k) { rebuilt = true; frame(4) }
    rebuilt shouldBe true
  }

  it should "compute again for a tier regenerated at the same path" in {
    import spark.implicits._
    val dir = graft.SparkSpec.tempDir("memo_tier")
    (1 to 3).toDF("v").write.mode("overwrite").parquet(s"$dir/t.parquet")
    def count() = Memo.reading(Q.tableCount(spark, dir, "t"))
    count() shouldBe ((3L, Seq(Memo.Read("row_count", built = true))))
    count() shouldBe ((3L, Seq(Memo.Read("row_count", built = false))))
    (1 to 5).toDF("v").write.mode("overwrite").parquet(s"$dir/t.parquet")
    count() shouldBe ((5L, Seq(Memo.Read("row_count", built = true))))
  }

  it should "record hits as well as builds in the read scope" in {
    val (k, kf) = (freshKey("scope"), freshKey("scope_frame"))
    Memo.scalar("spec_outside", k)(0) // no scope open: nothing recorded
    val (v, reads) = Memo.reading {
      Memo.scalar("spec_a", k)(1)
      val (_, inner) = Memo.reading {
        Memo.frame(spark, "spec_f", kf)(frame(1))
        Memo.frame(spark, "spec_f", kf)(fail("rebuilt"))
      }
      inner shouldBe Seq(Memo.Read("spec_f", built = true), Memo.Read("spec_f", built = false))
      Memo.scalar("spec_a", k)(2)
    }
    v shouldBe 1
    reads shouldBe Seq(Memo.Read("spec_a", built = true),
      Memo.Read("spec_f", built = true), Memo.Read("spec_f", built = false),
      Memo.Read("spec_a", built = false))
  }
}
