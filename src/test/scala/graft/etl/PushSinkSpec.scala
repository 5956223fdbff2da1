package graft.etl

import java.sql.{Date, Timestamp}
import java.util.concurrent.ConcurrentLinkedQueue

import graft.SparkSpec

object RecordingPusher extends PushSink.RowPusher {
  val chunks = new ConcurrentLinkedQueue[(String, Seq[String])]()
  override def push(table: String, chunk: Seq[String]): Unit =
    chunks.add(table -> chunk)
}

/** Fails the first `failFirst` push calls, then records. */
object FlakyPusher extends PushSink.RowPusher {
  val chunks = new ConcurrentLinkedQueue[Seq[String]]()
  val attempts = new java.util.concurrent.atomic.AtomicInteger(0)
  @volatile var failFirst = 0
  override def push(table: String, chunk: Seq[String]): Unit = {
    if (attempts.incrementAndGet() <= failFirst)
      throw new RuntimeException("transient 429")
    chunks.add(chunk)
  }
}

object AlwaysFailPusher extends PushSink.RowPusher {
  val attempts = new java.util.concurrent.atomic.AtomicInteger(0)
  override def push(table: String, chunk: Seq[String]): Unit = {
    attempts.incrementAndGet()
    throw new RuntimeException("permanent 500")
  }
}

/** Records which task pushed each row: (partitionId, taskAttemptId, EventID). */
object TaskRecordingPusher extends PushSink.RowPusher {
  val rows = new ConcurrentLinkedQueue[(Int, Long, String)]()
  override def push(table: String, chunk: Seq[String]): Unit = {
    val tc = org.apache.spark.TaskContext.get()
    chunk.foreach(j => rows.add((tc.partitionId, tc.taskAttemptId,
      j.split("\"EventID\":\"")(1).split("\"")(0))))
  }
}

/** Virtual time: sleeps advance the clock instead of blocking. */
object VirtualPacer extends PushSink.Pacer {
  val now = new java.util.concurrent.atomic.AtomicLong(0L)
  val sleeps = new ConcurrentLinkedQueue[Long]()
  override def nowNanos: Long = now.get
  override def sleepMs(ms: Long): Unit = {
    sleeps.add(ms); now.addAndGet(ms * 1000000L); ()
  }
  def reset(): Unit = { now.set(0L); sleeps.clear() }
}

class PushSinkSpec extends SparkSpec {
  import spark.implicits._

  private def facts(n: Int) =
    (1 to n).map(i => (s"E:$i", s"a${i % 3}", Date.valueOf("2024-01-02"),
      "CALLS", if (i % 2 == 0) null else s"note$i", "ALOWARE",
      Timestamp.valueOf("2024-01-02 12:00:00"), s"K:$i"))
      .toDF("eventId", "agentId", "factDateKey", "metricId", "notes",
        "source", "receivedAt", "dedupKey")

  test("P8 rename + null-notes default") {
    val sink = PushSink.toSinkColumns(facts(2))
    sink.columns.toSeq shouldBe Seq("EventID", "AgentID", "FactDateKey", "MetricID", "Notes")
    val r = sink.orderBy("EventID").collect()
    r(0).getAs[String]("FactDateKey") shouldBe "2024-01-02"
    r(1).getAs[String]("Notes") shouldBe "" // null → ""
  }

  test("pushBatch chunks rows executor-side and pushes every row once") {
    RecordingPusher.chunks.clear()
    val pushed = PushSink.pushBatch(facts(57), RecordingPusher, chunkSize = 10)
    pushed shouldBe 57
    val all = scala.jdk.CollectionConverters.CollectionHasAsScala(
      RecordingPusher.chunks).asScala.toSeq
    all.foreach { case (table, chunk) =>
      table shouldBe "FactEvent"
      chunk.size should be <= 10
    }
    val ids = all.flatMap(_._2).map { j =>
      j should include("\"EventID\"")
      j.split("\"EventID\":\"")(1).split("\"")(0)
    }
    ids.sorted shouldBe (1 to 57).map(i => s"E:$i").sorted
  }

  test("transient push failures retry with backoff, every row lands once") {
    FlakyPusher.chunks.clear(); FlakyPusher.attempts.set(0)
    FlakyPusher.failFirst = 2
    VirtualPacer.reset()
    val pushed = PushSink.pushBatch(facts(25), FlakyPusher, chunkSize = 10,
      retry = PushSink.RetryPolicy(maxAttempts = 4, initialDelayMs = 100),
      numPartitions = Some(1), pacer = VirtualPacer)
    pushed shouldBe 25
    // 3 chunks, first call failed twice: 2 failures + 3 successes
    FlakyPusher.attempts.get shouldBe 5
    val ids = scala.jdk.CollectionConverters.CollectionHasAsScala(FlakyPusher.chunks)
      .asScala.toSeq.flatten.map(_.split("\"EventID\":\"")(1).split("\"")(0))
    ids.sorted shouldBe (1 to 25).map(i => s"E:$i").sorted
    // backoff doubled: 100ms then 200ms
    scala.jdk.CollectionConverters.CollectionHasAsScala(VirtualPacer.sleeps)
      .asScala.toSeq shouldBe Seq(100L, 200L)
  }

  test("retry exhaustion fails the batch instead of dropping rows") {
    AlwaysFailPusher.attempts.set(0)
    VirtualPacer.reset()
    an[Exception] should be thrownBy PushSink.pushBatch(
      facts(5), AlwaysFailPusher, chunkSize = 10,
      retry = PushSink.RetryPolicy(maxAttempts = 3, initialDelayMs = 10),
      numPartitions = Some(1), pacer = VirtualPacer)
    AlwaysFailPusher.attempts.get shouldBe 3
  }

  test("token bucket paces chunks at the configured rate") {
    RecordingPusher.chunks.clear()
    VirtualPacer.reset()
    // 50 rows / chunkSize 10 = 5 requests at 2 req/s, burst 1: the
    // first is free, the remaining 4 wait 500ms each on virtual time.
    val pushed = PushSink.pushBatch(facts(50), RecordingPusher, chunkSize = 10,
      rateLimit = Some(PushSink.RateLimit(requestsPerSec = 2.0)),
      numPartitions = Some(1), pacer = VirtualPacer)
    pushed shouldBe 50
    val sleeps = scala.jdk.CollectionConverters.CollectionHasAsScala(VirtualPacer.sleeps)
      .asScala.toSeq
    sleeps.size shouldBe 4
    all(sleeps) shouldBe 500L +- 1
    VirtualPacer.now.get should be >= 2000L * 1000000L
  }

  private def pushedByTask(batch: org.apache.spark.sql.DataFrame, parts: Int) = {
    TaskRecordingPusher.rows.clear()
    PushSink.pushBatch(batch, TaskRecordingPusher, chunkSize = 5,
      numPartitions = Some(parts)) shouldBe batch.count()
    scala.jdk.CollectionConverters.CollectionHasAsScala(TaskRecordingPusher.rows)
      .asScala.toSeq
  }

  test("a batch with fewer partitions than numPartitions is pushed from its own partitions") {
    val batch = facts(30).coalesce(2)
    val home = batch.rdd.mapPartitionsWithIndex { (i, it) =>
      it.map(r => (i, r.getAs[String]("eventId")))
    }.collect().toSeq
    home.map(_._1).distinct should have size 2
    pushedByTask(batch, parts = 4).map { case (p, _, id) => (p, id) } should
      contain theSameElementsAs home
  }

  test("a batch wider than numPartitions is pushed by at most that many tasks") {
    val batch = facts(40).repartition(8)
    batch.rdd.getNumPartitions shouldBe 8
    val pushed = pushedByTask(batch, parts = 2)
    pushed.map(_._3).sorted shouldBe (1 to 40).map(i => s"E:$i").sorted
    pushed.map(_._1).distinct.size should be <= 2
    pushed.map(_._2).distinct.size should be <= 2
  }

  test("K5 createStarTables is idempotent and queryable") {
    Dims.createStarTables(spark)
    Dims.createStarTables(spark) // IF NOT EXISTS
    spark.table("FactEvent").columns.toSeq shouldBe
      Seq("EventID", "AgentID", "FactDateKey", "MetricID", "Notes")
    spark.table("DimShift").count() shouldBe 0
  }
}
