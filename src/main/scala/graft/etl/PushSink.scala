package graft.etl

import org.apache.spark.TaskContext
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow

/** K1/K2 — the push-dataset row sink contract (reference
  * `src/services/post-factevent.service.ts`,
  * `src/integrations/powerbi/tables.repo.ts`): rows are renamed to
  * the sink schema (P8), serialized row-wise, and pushed in bounded
  * chunks (the reference's SDK "chunking, retries, rate-limited"
  * claim, `README.md:69,265`).
  *
  * The transport is injected ([[RowPusher]]) — production wires an
  * HTTP client; tests wire a recorder. `foreachBatch`-friendly:
  * chunking happens per partition on executors, so no driver
  * collect; the pusher must be serializable (an HTTP client per
  * partition is the standard shape).
  */
object PushSink {

  trait RowPusher extends Serializable {
    /** Push one chunk of JSON-encoded rows to a named sink table. */
    def push(table: String, chunk: Seq[String]): Unit
  }

  /** Clock + sleep, injectable so retry/rate tests run on virtual
    * time. Executor-side (must stay serializable). */
  trait Pacer extends Serializable {
    def nowNanos: Long = System.nanoTime()
    def sleepMs(ms: Long): Unit = if (ms > 0) Thread.sleep(ms)
  }
  object SystemPacer extends Pacer

  /** Bounded exponential backoff for transient push failures: attempt
    * n sleeps initialDelayMs·factor^(n-1), capped at maxDelayMs; the
    * maxAttempts-th failure rethrows (the task — and with it the
    * batch — fails rather than dropping rows silently). */
  final case class RetryPolicy(
      maxAttempts: Int = 5,
      initialDelayMs: Long = 200,
      maxDelayMs: Long = 10000,
      backoffFactor: Double = 2.0) extends Serializable {
    require(maxAttempts >= 1, "need at least one attempt")
  }

  /** Token bucket, applied PER PARTITION on the executor: a partition
    * may burst `burst` requests, then is paced at requestsPerSec.
    * The effective global rate is at most numPartitions ×
    * requestsPerSec — size `numPartitions` in [[pushBatch]] for the
    * sink's documented API budget (e.g. a 120 req/min API: 4
    * partitions × 0.5 req/s). */
  final case class RateLimit(requestsPerSec: Double, burst: Int = 1)
      extends Serializable {
    require(requestsPerSec > 0 && burst >= 1, "rate and burst must be positive")
  }

  /** P8 — FactEvent rows → sink column names, notes defaulted to "". */
  def toSinkColumns(facts: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    facts.select(
      col("eventId").as("EventID"),
      col("agentId").as("AgentID"),
      date_format(col("factDateKey"), "yyyy-MM-dd").as("FactDateKey"),
      col("metricId").as("MetricID"),
      coalesce(col("notes"), lit("")).as("Notes"))
  }

  /** Push a (micro-)batch: executor-side, chunked, with bounded
    * exponential retry and an optional per-partition token-bucket
    * rate cap (every attempt — retries included — pays a token, so a
    * flapping sink is never hammered above the cap). Returns rows
    * pushed. `numPartitions` (default: the cluster parallelism) caps
    * the number of pusher tasks rather than setting it: a batch with
    * at most that many partitions is pushed from its own partitions,
    * with no shuffle, and only a wider one is repartitioned down to
    * it. The cap doubles as the global rate knob (see [[RateLimit]]). */
  def pushBatch(
      facts: DataFrame, pusher: RowPusher, table: String = "FactEvent",
      chunkSize: Int = 100,
      retry: RetryPolicy = RetryPolicy(),
      rateLimit: Option[RateLimit] = None,
      numPartitions: Option[Int] = None,
      pacer: Pacer = SystemPacer): Long = {
    import org.apache.spark.sql.functions._
    val sink = toSinkColumns(facts)
    val spark = facts.sparkSession
    val parts = numPartitions.getOrElse(
      math.max(1, spark.sparkContext.defaultParallelism))
    // the executed plan's own rows: `toRdd` adds no Row conversion and
    // no `mapPartitions` of Dataset/RDD, whose closures Spark's
    // ClosureCleaner cleans by parsing those classes on every batch
    val rows = sink.select(to_json(struct(sink.columns.map(col): _*)).as("j"))
      .queryExecution.toRdd
    // repartitioned on the RDD: with AQE, `toRdd` has already run the
    // plan's shuffle stages, which a second Dataset would run again.
    // The plan reuses its InternalRow objects, so copy before the
    // shuffle buffers them.
    val pushed =
      if (rows.getNumPartitions > parts) rows.map(_.copy()).repartition(parts)
      else rows
    val pushPartition = (_: TaskContext, it: Iterator[InternalRow]) => {
      // token bucket state, one per partition-task
      var tokens = rateLimit.map(_.burst.toDouble).getOrElse(0.0)
      var lastRefill = pacer.nowNanos
      def acquire(): Unit = rateLimit.foreach { rl =>
        def refill(): Unit = {
          val now = pacer.nowNanos
          tokens = math.min(rl.burst.toDouble,
            tokens + (now - lastRefill) * rl.requestsPerSec / 1e9)
          lastRefill = now
        }
        refill()
        if (tokens < 1.0) {
          val waitMs = math.ceil((1.0 - tokens) / rl.requestsPerSec * 1000).toLong
          pacer.sleepMs(waitMs)
          refill()
        }
        tokens -= 1.0
      }
      def pushWithRetry(chunk: Seq[String]): Unit = {
        var attempt = 1
        var delay = retry.initialDelayMs
        var done = false
        while (!done) {
          acquire()
          try { pusher.push(table, chunk); done = true }
          catch { case e: Exception =>
            if (attempt >= retry.maxAttempts) throw e
            pacer.sleepMs(delay)
            delay = math.min(retry.maxDelayMs,
              (delay * retry.backoffFactor).toLong)
            attempt += 1
          }
        }
      }
      var n = 0L
      it.map(_.getUTF8String(0).toString).grouped(chunkSize).foreach { chunk =>
        pushWithRetry(chunk.toSeq); n += chunk.size
      }
      n
    }
    // one job, one closure to clean, per push
    var total = 0L
    spark.sparkContext.runJob(pushed, pushPartition,
      0 until pushed.getNumPartitions, (_: Int, n: Long) => total += n)
    total
  }
}
