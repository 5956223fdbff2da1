package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** Lifecycle of the bounded artifact registry backing DocArtifacts /
  * PqArtifacts / GraphArtifacts: memoized builds, LRU residency
  * bound, idempotent release, the release-vs-build race (the leak the
  * @volatile-flag design had), and the build contract — the registry
  * caches through the build's handle, cleans up a failed build, and
  * retires exactly the frames its own cell recorded. */
class ArtifactRegistrySpec extends SparkSpec {
  import spark.implicits._

  private def frame(tag: Int): DataFrame = Seq((tag, tag)).toDF("a", "b")

  private def bundle(b: ArtifactRegistry.Build, tag: Int): DataFrame =
    b.persist(frame(tag))

  test("memoizes per (session, dir): one build per key") {
    var builds = 0
    val reg = new ArtifactRegistry[DataFrame](maxCorpora = 4)
    def get(d: String) = reg(spark, d) { b => builds += 1; bundle(b, builds) }
    get("a"); get("a"); get("a")
    builds shouldBe 1
    reg.release(spark, "a")
  }

  test("LRU bound: exceeding maxCorpora releases the least-recently-USED bundle") {
    val reg = new ArtifactRegistry[DataFrame](maxCorpora = 2)
    val fa = reg(spark, "a")(bundle(_, 1))
    val fb = reg(spark, "b")(bundle(_, 2))
    reg(spark, "a") { _ => fail("a is resident — must not rebuild") }
    val fc = reg(spark, "c")(bundle(_, 3)) // evicts b (LRU), not a
    fb.storageLevel shouldBe StorageLevel.NONE
    fa.storageLevel should not be StorageLevel.NONE
    fc.storageLevel should not be StorageLevel.NONE
    reg.size shouldBe 2
    // the evicted key rebuilds on next access (lazy re-admission)
    var rebuilt = false
    reg(spark, "b") { b => rebuilt = true; bundle(b, 4) }
    rebuilt shouldBe true
    Seq("a", "b", "c").foreach(reg.release(spark, _))
  }

  test("release unpersists, is idempotent, and a later access rebuilds") {
    val reg = new ArtifactRegistry[DataFrame](maxCorpora = 4)
    val f = reg(spark, "x")(bundle(_, 9))
    reg.release(spark, "x")
    f.storageLevel shouldBe StorageLevel.NONE
    reg.release(spark, "x") // second release: no-op, no throw
    var rebuilt = false
    reg(spark, "x") { b => rebuilt = true; bundle(b, 10) }
    rebuilt shouldBe true
    reg.release(spark, "x")
  }

  test("a release racing an in-flight build waits for it and still unpersists") {
    val reg = new ArtifactRegistry[DataFrame](maxCorpora = 4)
    val started = new java.util.concurrent.CountDownLatch(1)
    val frame = new java.util.concurrent.atomic.AtomicReference[DataFrame]
    val builder = new Thread(() => {
      reg(spark, "r") { b =>
        started.countDown()
        Thread.sleep(300) // release arrives mid-build
        val f = bundle(b, 42); frame.set(f); f
      }
      ()
    })
    builder.start()
    started.await()
    reg.release(spark, "r") // must WAIT for the build, then unpersist
    builder.join()
    frame.get.storageLevel shouldBe StorageLevel.NONE
  }

  test("a build that throws after two persists: the caller sees the " +
      "exception, both frames are unpersisted, the next access rebuilds") {
    val reg = new ArtifactRegistry[DataFrame](maxCorpora = 4)
    var made = Seq.empty[DataFrame]
    val e = intercept[IllegalStateException] {
      reg(spark, "f") { b =>
        made = Seq(bundle(b, 1), bundle(b, 2))
        made.foreach(_.storageLevel should not be StorageLevel.NONE)
        throw new IllegalStateException("build failed")
      }
    }
    e.getMessage shouldBe "build failed"
    reg.size shouldBe 0 // no half-built cell stays resident
    made should have length 2
    made.foreach(_.storageLevel shouldBe StorageLevel.NONE)
    var rebuilt = false
    val f = reg(spark, "f") { b => rebuilt = true; bundle(b, 3) }
    rebuilt shouldBe true
    f.storageLevel should not be StorageLevel.NONE
    reg.release(spark, "f")
  }

  test("retire unpersists a recorded intermediate the bundle does not return") {
    val reg = new ArtifactRegistry[DataFrame](maxCorpora = 4)
    var mid: DataFrame = null
    val out = reg(spark, "i") { b =>
      mid = bundle(b, 5)
      b.persist(mid.withColumn("c", $"a" + 1))
    }
    mid.storageLevel should not be StorageLevel.NONE
    reg.release(spark, "i")
    mid.storageLevel shouldBe StorageLevel.NONE
    out.storageLevel shouldBe StorageLevel.NONE
  }

  test("a nested build's frames belong to the inner cell: releasing the " +
      "outer registry leaves them cached") {
    val inner = new ArtifactRegistry[DataFrame](maxCorpora = 4)
    val outer = new ArtifactRegistry[DataFrame](maxCorpora = 4)
    var innerFrame: DataFrame = null
    val outerFrame = outer(spark, "n") { b =>
      innerFrame = inner(spark, "n")(bundle(_, 7))
      b.persist(innerFrame.withColumn("c", $"a" * 2))
    }
    outer.release(spark, "n")
    outerFrame.storageLevel shouldBe StorageLevel.NONE
    innerFrame.storageLevel should not be StorageLevel.NONE
    inner(spark, "n") { _ => fail("inner is resident — must not rebuild") }
    inner.release(spark, "n")
    innerFrame.storageLevel shouldBe StorageLevel.NONE
  }

  test("ArtifactRegistry.release(s, dir) clears that key in every " +
      "registry and leaves other keys resident") {
    val r1 = new ArtifactRegistry[DataFrame](maxCorpora = 4)
    val r2 = new ArtifactRegistry[DataFrame](maxCorpora = 4)
    var retired = Seq.empty[(String, String)]
    val r3 = new ArtifactRegistry[String](maxCorpora = 4,
      onRetire = (_, dir) => retired :+= ("r3" -> dir))
    val a1 = r1(spark, "key-a")(bundle(_, 1))
    val a2 = r2(spark, "key-a")(bundle(_, 2))
    val b1 = r1(spark, "key-b")(bundle(_, 3))
    val b2 = r2(spark, "key-b")(bundle(_, 4))
    r3(spark, "key-a")(_ => "a")
    ArtifactRegistry.release(spark, "key-a")
    a1.storageLevel shouldBe StorageLevel.NONE
    a2.storageLevel shouldBe StorageLevel.NONE
    retired shouldBe Seq("r3" -> "key-a")
    b1.storageLevel should not be StorageLevel.NONE
    b2.storageLevel should not be StorageLevel.NONE
    r1.size shouldBe 1
    r2.size shouldBe 1
    r1(spark, "key-b") { _ => fail("key-b is resident — must not rebuild") }
    ArtifactRegistry.release(spark, "key-b")
    b1.storageLevel shouldBe StorageLevel.NONE
    b2.storageLevel shouldBe StorageLevel.NONE
  }

  // a query that caches only through the registry leaves nothing
  // behind once its corpus is released
  Seq("s6_kmeans", "s8_balanced_sample", "d12_incr_semdedup",
      "d2_ngram_jaccard").foreach { q =>
    test(s"release frees every cache $q made") {
      val dir = s"${sys.props("user.home")}/testdata/sf0.001"
      val before = sc.getPersistentRDDs.keySet
      SparkEntry.queries(q)(spark, dir).collect()
      ArtifactRegistry.release(spark, dir)
      (sc.getPersistentRDDs.keySet -- before) shouldBe empty
    }
  }

  test("e31's day-partitioned serving directory is deleted by release") {
    val dir = s"${sys.props("user.home")}/testdata/sf0.001"
    val root = new java.io.File(sys.props("java.io.tmpdir"),
      "graft-serving-" + ArtifactRegistry.dirTag(dir))
    SparkEntry.queries("e31_day_serving")(spark, dir).collect()
    root.isDirectory shouldBe true
    ArtifactRegistry.release(spark, dir)
    root.exists shouldBe false
  }
}
