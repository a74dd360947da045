package graft.util

import graft.SparkSpec
import org.apache.spark.storage.StorageLevel

/** CacheBin scoping: a scope releases exactly the frames persisted inside
  * it, so two concurrent query loops on one session never unpersist each
  * other's in-flight intermediates. */
class CacheBinSpec extends SparkSpec {

  behavior of "CacheBin"

  it should "release frames persisted inside a scope when it closes" in {
    import spark.implicits._
    val df = Seq(1, 2, 3).toDF("x")
    CacheBin.withScope {
      CacheBin.persist(df)
      df.count()
      df.storageLevel should not be StorageLevel.NONE
    }
    df.storageLevel shouldBe StorageLevel.NONE
  }

  it should "not release another thread's in-flight frames" in {
    import spark.implicits._
    val other = Seq(4, 5).toDF("y")
    // a concurrent query on a different driver thread persists its own
    // intermediate inside its own scope and holds it past ours
    val otherThreadDone = new java.util.concurrent.CountDownLatch(1)
    val release = new java.util.concurrent.CountDownLatch(1)
    val t = new Thread(() => CacheBin.withScope {
      CacheBin.persist(other)
      other.count()
      otherThreadDone.countDown()
      release.await()
    })
    t.start()
    otherThreadDone.await()
    val mine = Seq(6, 7).toDF("z")
    CacheBin.withScope { CacheBin.persist(mine); mine.count() }
    // my scope closed; the other query's cache must still be live
    other.storageLevel should not be StorageLevel.NONE
    release.countDown()
    t.join()
    other.storageLevel shouldBe StorageLevel.NONE
    mine.storageLevel shouldBe StorageLevel.NONE
  }

  it should "fall back to the session-global bin with no scope open" in {
    import spark.implicits._
    val df = Seq(8, 9).toDF("w")
    CacheBin.persist(df)
    df.count()
    df.storageLevel should not be StorageLevel.NONE
    CacheBin.unpersistAll(spark)
    df.storageLevel shouldBe StorageLevel.NONE
  }

  it should "run registered release actions on scope close (checkpoint hook)" in {
    // the hook DupGroups uses to hand its final localCheckpoint's storage
    // to the caller's scope — plain unpersist can't reach checkpoint RDDs
    val released = new java.util.concurrent.atomic.AtomicInteger(0)
    CacheBin.withScope {
      CacheBin.registerRelease(spark)(() => released.incrementAndGet())
      released.get() shouldBe 0 // deferred until the scope closes
    }
    released.get() shouldBe 1

    // no scope open -> runs on unpersistAll
    CacheBin.registerRelease(spark)(() => released.incrementAndGet())
    CacheBin.unpersistAll(spark)
    released.get() shouldBe 2
  }

  it should "isolate a throwing release action: others still run, nothing re-runs" in {
    val released = new java.util.concurrent.atomic.AtomicInteger(0)
    val e = intercept[RuntimeException] {
      CacheBin.withScope {
        CacheBin.registerRelease(spark)(() => sys.error("boom"))
        CacheBin.registerRelease(spark)(() => released.incrementAndGet())
      }
    }
    e.getMessage should include("boom")
    released.get() shouldBe 1 // the survivor ran despite the earlier failure

    // the failed scope cleared its list — nothing re-runs on a later release
    CacheBin.withScope { () }
    released.get() shouldBe 1

    // same isolation on the global bin
    CacheBin.registerRelease(spark)(() => sys.error("boom-global"))
    CacheBin.registerRelease(spark)(() => released.incrementAndGet())
    val g = intercept[RuntimeException](CacheBin.unpersistAll(spark))
    g.getMessage should include("boom-global")
    released.get() shouldBe 2
    CacheBin.unpersistAll(spark) // registry was drained up front: no re-run
    released.get() shouldBe 2
  }

  it should "propagate a fatal release error immediately, not swallow it" in {
    // an OOM from one releaser must not be demoted to a suppressed note on
    // a non-fatal first failure — continuing Spark calls in an OOM'd JVM
    // is worse than leaking the remaining entries
    val ranAfterFatal = new java.util.concurrent.atomic.AtomicBoolean(false)
    val e = intercept[OutOfMemoryError] {
      CacheBin.withScope {
        CacheBin.registerRelease(spark)(() => sys.error("benign-first"))
        CacheBin.registerRelease(spark)(() => throw new OutOfMemoryError("fake"))
        CacheBin.registerRelease(spark)(() => ranAfterFatal.set(true))
      }
    }
    e.getMessage shouldBe "fake"
    ranAfterFatal.get() shouldBe false // sweep stopped at the fatal error
  }

  it should "hold no persisted RDD after the checkpointing operators' distributed runs" in {
    import spark.implicits._
    import graft.ops.{BpeTrain, DupGroups, LocalOrDistributed, PageRank}
    graft.functions.GraftFunctions.register(spark)
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("a", "b")
    val weighted = Seq(("a", "b", 3L), ("b", "c", 1L), ("c", "a", 2L))
      .toDF("src", "dst", "w")
    val docs = Seq((0L, "abab abba"), (1L, "baab ab")).toDF("doc_id", "text")
    def persisted = spark.sparkContext.getPersistentRDDs.size
    Seq[(String, () => org.apache.spark.sql.DataFrame)](
      "DupGroups" -> (() => DupGroups.connectedComponentsAuto(pairs, "a", "b")),
      "PageRank" -> (() => PageRank.run(weighted, 5)),
      "BpeTrain" -> (() => BpeTrain.merges(docs, "text", 2))).foreach {
      case (name, op) =>
        val before = persisted
        LocalOrDistributed.forceDistributed(CacheBin.withScope(op().collect()))
        withClue(s"$name: ") { persisted shouldBe before }
    }
  }
}
