package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.{Files, Path}
import java.util.concurrent.{CompletableFuture, ConcurrentLinkedQueue}
import java.util.concurrent.locks.LockSupport

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.streaming.StreamingQueryListener._

import graft.streaming.{HttpEnvelopeRelay, StreamingIngest}

/** One webhook delivery the generator sends. `eventId` is the EventID
  * the engine must push for it, or empty when the engine must drop it
  * (inbound, unknown event, off-roster agent, HubSpot scaffold agent).
  * A redelivery repeats an earlier body and expects nothing new. */
final case class Delivery(seq: Int, source: String, body: String, eventId: String)

/** Seeded Aloware/HubSpot traffic mix with its own bookkeeping of
  * what the engine must push. */
final class WebhookMix(seed: Long, roster: Seq[Long], offRoster: Seq[Long]) {
  private val rnd = new scala.util.Random(seed)
  private val sent = mutable.ArrayBuffer.empty[Delivery]
  private var nextId = 100000L + (seed & 0xffff) * 1000000L

  private def alowareBody(id: Long, event: String, owner: Long, shape: Int): String = {
    val dir = if (event.startsWith("inbound")) 1 else 2
    val tpe = if (event.contains("text")) 2 else 1
    val tz = Seq("America/New_York", "Europe/Berlin", "UTC", "Asia/Tokyo")(rnd.nextInt(4))
    val payload = s""""id":$id,"direction":$dir,"type":$tpe,""" +
      s""""created_at":"2025-11-05 ${10 + rnd.nextInt(8)}:${10 + rnd.nextInt(50)}:00",""" +
      s""""owner_id":$owner,"contact":{"timezone":"$tz"}"""
    shape match {
      case 0 => s"""{"event":"$event",$payload}"""
      case 1 => s"""{"event":"$event","body":{$payload}}"""
      case _ => s"""{"parsedBody":{"event":"$event","body":{$payload}}}"""
    }
  }

  /** Next delivery: 60% kept outbound calls/texts, then inbound,
    * unknown events, off-roster agents, HubSpot, and 10% redeliveries. */
  def next(seq: Int, warmup: Boolean = false): Delivery = {
    val r = if (warmup) 0 else rnd.nextInt(100)
    val d =
      if (r >= 90 && sent.nonEmpty) {
        val o = sent(rnd.nextInt(sent.size))
        Delivery(seq, o.source, o.body, "")
      } else {
        val id = nextId; nextId += 1
        val shape = rnd.nextInt(3)
        if (r < 60) {
          val ev = if (rnd.nextBoolean()) "outbound_call" else "outbound_text"
          Delivery(seq, "aloware",
            alowareBody(id, ev, roster(rnd.nextInt(roster.size)), shape),
            s"ALOWARE:$id")
        } else if (r < 70)
          Delivery(seq, "aloware",
            alowareBody(id, "inbound_call", roster(rnd.nextInt(roster.size)), shape), "")
        else if (r < 75)
          Delivery(seq, "aloware",
            s"""{"event":"contact_updated","id":$id,"owner_id":${roster.head}}""", "")
        else if (r < 85)
          Delivery(seq, "aloware", alowareBody(id,
            "outbound_call", offRoster(rnd.nextInt(offRoster.size)), shape), "")
        else
          Delivery(seq, "hubspot", s"""{"event":"email_sent","id":$id}""", "")
      }
    if (!warmup) sent += d
    d
  }
}

/** Progress of the measured stream, kept for the per-layer summary. */
final class ProgressLog extends StreamingQueryListener {
  @volatile var queryId: java.util.UUID = _
  val batches = new ConcurrentLinkedQueue[StreamingQueryProgress]()
  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit =
    if (e.progress.id == queryId) batches.add(e.progress)
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
}

/** `webhook_live`: an open-loop generator POSTs a seeded mix to the
  * HTTP relay at a fixed offered rate; the stream runs spool source →
  * StreamingIngest.transform (with roster) → StreamingIngest.pushSink
  * into a recording pusher, with back-to-back micro-batches. */
object Webhook {
  /** Offered rate, deliveries per second: below the knee measured on a
    * 4-core machine (see perfbench/README.md). */
  val Rate = 15
  /** Deliveries per cold drain. One: the relay spools deliveries one at
    * a time, so several would reach the idle stream split over one or
    * two micro-batches, and the drain would vary by a batch. */
  val WarmupDeliveries = 1
  /** Open-loop traffic at the offered rate before the timed window:
    * checked like the rest, but left out of the latency metrics, so
    * the window starts on a stream whose batch loop has warmed up. */
  val RampSeconds = 3
  /** Set-ups before the timed window. `setup_s` is the median of these
    * and the 1 + ColdReps set-ups after it; the set-up path itself warms up
    * over the first two. */
  val SetupReps = 3
  /** Counted set-ups after the timed window, each with a cold drain;
    * `cold_s` is the median drain. */
  val ColdReps = 5
  /** A generator later than this behind its schedule invalidates the run. */
  val MaxLagMs = 1000.0

  final case class Live(relay: HttpEnvelopeRelay.Relay, query: StreamingQuery,
      spool: Path, warmIds: Set[String])

  def run(spark: SparkSession, args: Args): Outcome = {
    import spark.implicits._
    val roster = (1 to 40).map(1000L + _)
    val offRoster = (1 to 10).map(9000L + _)
    val rosterDf = roster.map(id => (id, s"Agent $id", s"a$id@example.com"))
      .toDF("id", "name", "email")
    val progress = new ProgressLog
    spark.streams.addListener(progress)
    val http = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
    val mix = new WebhookMix(args.seed, roster, offRoster)

    // Independent senders: a POST never waits for an earlier one's
    // ack, so a slow relay shows as ack latency, not as a late schedule.
    def post(port: Int, d: Delivery, dueMicros: Long): CompletableFuture[Int] = {
      val req = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/webhook/${d.source}"))
        .header("Content-Type", "application/json")
        .header("x-bench-seq", d.seq.toString)
        .header("x-bench-due-us", dueMicros.toString)
        .POST(HttpRequest.BodyPublishers.ofString(d.body)).build()
      http.sendAsync(req, HttpResponse.BodyHandlers.discarding())
        .thenApply[Int](_.statusCode())
    }

    def awaitPushed(ids: Set[String], timeoutS: Double): Set[String] = {
      val deadline = System.nanoTime() + (timeoutS * 1e9).toLong
      var missing = ids
      while (missing.nonEmpty && System.nanoTime() < deadline) {
        missing = missing -- Recorder.pushed.map(_.eventId)
        if (missing.nonEmpty) Thread.sleep(5)
      }
      missing
    }

    def awaitReady(q: StreamingQuery): Unit = {
      def waiting = q.status.message.startsWith("Waiting for")
      val deadline = System.nanoTime() + 120000000000L
      while (!waiting && q.exception.isEmpty && System.nanoTime() < deadline) Thread.sleep(5)
      require(waiting, s"stream never became ready: ${q.exception}")
    }
    // A set-up, on a fresh spool and checkpoint: relay + stream start
    // until the stream's first trigger has listed the empty spool and
    // waits for data. A cold drain then sends one delivery through the
    // fresh stream and waits until it is pushed (its first micro-batch
    // plans, opens the state store and writes the first checkpoint
    // files). The first set-up and drain pay the JVM's JIT warm-up,
    // which is not the engine's cost and varies from run to run, so
    // the drains `cold_s` counts run after the timed window, in a JVM
    // that has warmed up.
    var seq = 0
    def setUp(rep: Int, drain: Boolean): (Double, Option[Double], Live) = {
      val dir = args.work.resolve(s"webhook-$rep")
      val spool = dir.resolve("spool")
      val t0 = System.nanoTime()
      val relay = HttpEnvelopeRelay.start(spool.toString)
      val facts = StreamingIngest.transform(
        HttpEnvelopeRelay.spoolSource(spark, spool.toString), Some(rosterDf))
      val query = StreamingIngest.pushSink(facts, dir.resolve("checkpoint").toString,
        new RecordingPusher, triggerMs = 0L).start()
      progress.queryId = query.id
      progress.batches.clear()
      awaitReady(query)
      val setupS = (System.nanoTime() - t0) / 1e9
      val warm = if (drain)
        (0 until WarmupDeliveries).map { _ => seq += 1; mix.next(seq, warmup = true) }
      else Nil
      val c0 = System.nanoTime()
      warm.map(d => post(relay.port, d, Recorder.nowMicros())).foreach(_.join())
      val warmMissing = awaitPushed(warm.map(_.eventId).toSet, 120)
      require(warmMissing.isEmpty, s"warm-up rows never reached the sink: $warmMissing")
      val drainS = (System.nanoTime() - c0) / 1e9
      (setupS, if (warm.isEmpty) None else Some(drainS),
        Live(relay, query, spool, warm.map(_.eventId).toSet))
    }
    // SetupReps set-ups before the window, each with a drain; the last
    // stream is kept for the window.
    val reps = (0 until SetupReps).map { rep =>
      val r = setUp(rep, drain = true)
      if (rep < SetupReps - 1) { r._3.query.stop(); r._3.relay.close() }
      r
    }
    val live = reps.last._3
    Recorder.clear()

    // Open loop at Rate/s, due times fixed up front: a ramp of
    // RampSeconds, then the timed window of `seconds`. Tracing (trace
    // runs only) covers the second half of the window.
    val timedFrom = Rate * RampSeconds
    val n = timedFrom + Rate * args.seconds
    val stepUs = 1000000L / Rate
    val deliveries = (0 until n).map { _ => seq += 1; mix.next(seq) }
    val acks = new Array[Long](n)
    val sends = new Array[CompletableFuture[Unit]](n)
    val status = new Array[Int](n)
    val dues = new Array[Long](n)
    var lagMaxMs = 0.0
    val rampUs = Recorder.nowMicros() + 50000L
    val startUs = rampUs + timedFrom * stepUs
    val tracedFrom = if (args.trace) (timedFrom + n) / 2 else n
    for (k <- 0 until n) {
      dues(k) = rampUs + k * stepUs
      if (k == tracedFrom) Probe.enabled = true
      val waitUs = dues(k) - Recorder.nowMicros()
      if (waitUs > 0) LockSupport.parkNanos(waitUs * 1000L)
      lagMaxMs = math.max(lagMaxMs, (Recorder.nowMicros() - dues(k)) / 1e3)
      val i = k
      sends(k) = post(live.relay.port, deliveries(k), dues(k)).handle[Unit] { (st, err) =>
        acks(i) = Recorder.nowMicros()
        status(i) = if (err == null) st else -1
      }
    }
    sends.foreach(_.join())
    val expectedIdx = deliveries.indices.filter(k => deliveries(k).eventId.nonEmpty)
    val expected = expectedIdx.map(deliveries(_).eventId).toSet
    val missing = awaitPushed(expected, 60)
    // let the batch that pushed the last rows commit (and report its
    // progress) before stopping
    live.query.processAllAvailable()
    live.query.stop()
    live.relay.close()
    Thread.sleep(200) // let the listener bus deliver the last progress events
    Probe.enabled = false

    // Correctness: the pushed EventID set equals the expected set, and
    // no row is pushed twice. The recording pusher never fails, so the
    // sink never retries: a second push of an EventID is a dedup defect.
    val timed = Recorder.pushed.filterNot(p => live.warmIds(p.eventId))
    val firstPush = timed.groupBy(_.eventId).map { case (k, v) => k -> v.minBy(_.atMicros) }
    val unexpected = firstPush.keySet -- expected
    val duplicates = timed.size - firstPush.size
    val rejected = status.count(_ != 200)
    val validGen = lagMaxMs <= MaxLagMs

    // Latency metrics cover the timed window; the ramp is only checked.
    val fresh = expectedIdx.filter(_ >= timedFrom).flatMap { k =>
      firstPush.get(deliveries(k).eventId).map(p => (k, (p.atMicros - dues(k)) / 1e3))
    }
    val freshMs = fresh.map(_._2)
    val ackMs = (timedFrom until n).map(k => (acks(k) - dues(k)) / 1e3)
    val endUs = fresh.map { case (k, _) => firstPush(deliveries(k).eventId).atMicros }
      .foldLeft(dues(n - 1))(math.max)
    val achieved = fresh.size / ((endUs - startUs) / 1e6)
    // The per-layer split reads the window's progress and pushes, so it
    // comes before the cold drains below, which start streams of their own.
    val (batchLayers, batchReport, batchChecks) =
      if (!args.trace) (Nil, Nil, Nil)
      else BatchReplay.run(spark, live.spool, rosterDf, live.warmIds, expected)
    val layers = if (!args.trace) Nil else layerMetrics(progress, live, deliveries,
      dues, acks, fresh, tracedFrom, lagMaxMs, n - rejected, firstPush) ++ batchLayers
    // 1 + ColdReps set-ups with a cold drain each, in the warmed-up JVM.
    // The first drain after the window is often the slowest, by up to
    // 1.4 s, so it is not counted.
    val cold = (0 to ColdReps).map { i =>
      System.gc()
      val r = setUp(SetupReps + i, drain = true)
      r._3.query.stop(); r._3.relay.close()
      r
    }
    val setupTimes = (reps ++ cold).map(_._1)
    val drainTimes = cold.tail.flatMap(_._2)
    val coldS = Stats.median(drainTimes)
    val report = Seq(
      "offered_per_s" -> Rate.toString,
      "deliveries" -> n.toString,
      "ramp_deliveries" -> timedFrom.toString,
      "expected_rows" -> expected.size.toString,
      "setup_runs_s" -> setupTimes.map(Json.num).mkString("[", ",", "]"),
      "cold_drains_s" -> drainTimes.map(Json.num).mkString("[", ",", "]"),
      "warmup_drains_s" -> (reps :+ cold.head).flatMap(_._2).map(Json.num).mkString("[", ",", "]"),
      "fresh_p50_s" -> Json.num(Stats.pct(freshMs, 50) / 1e3),
      "fresh_p99_s" -> Json.num(Stats.pct(freshMs, 99) / 1e3),
      "ack_p50_ms" -> Json.num(Stats.pct(ackMs, 50)),
      "ack_p99_ms" -> Json.num(Stats.pct(ackMs, 99)),
      "gen_lag_max_ms" -> Json.num(lagMaxMs),
      "generator_valid" -> validGen.toString,
      "missing" -> missing.size.toString,
      "unexpected" -> unexpected.size.toString,
      "duplicate_pushes" -> duplicates.toString,
      "spool_dir" -> Json.str(live.spool.toString),
      "checkpoint_dir" -> Json.str(live.spool.getParent.resolve("checkpoint").toString))
    val endToEnd = Seq(
      ("setup_s", Stats.median(setupTimes), "s"),
      ("cold_s", coldS, "s"),
      ("warm_p50_ms", Stats.pct(freshMs, 50), "ms"),
      ("warm_p90_ms", Stats.pct(freshMs, 90), "ms"),
      ("throughput_per_s", achieved, "1/s"))
    Outcome(
      attempted = n, failed = rejected + missing.size + unexpected.size + duplicates,
      checks = Seq("pushed_set_equals_expected" -> (missing.isEmpty && unexpected.isEmpty),
        "no_duplicate_pushes" -> (duplicates == 0),
        "all_acked" -> (rejected == 0), "generator_on_schedule" -> validGen) ++ batchChecks,
      endToEnd, layers, report ++ batchReport)
  }

  /** Per-layer split of the traced half of the window. Each expected
    * event gets a span from its due time to its first push, with child
    * spans for the relay ack, the spool pickup and the micro-batch. */
  private def layerMetrics(progress: ProgressLog, live: Live,
      deliveries: IndexedSeq[Delivery], dues: Array[Long], acks: Array[Long],
      fresh: Seq[(Int, Double)], tracedFrom: Int, lagMaxMs: Double,
      accepted: Int, firstPush: Map[String, Pushed]): Seq[(String, Double, String)] = {
    val ps = progress.batches.asScala.toVector
    def dur(p: StreamingQueryProgress, k: String): Double =
      Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
    def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
    def startUs(p: StreamingQueryProgress) = java.time.Instant.parse(p.timestamp).toEpochMilli * 1000L
    val tracedStartUs = dues(math.min(tracedFrom, dues.length - 1))
    val data = ps.filter(p => p.numInputRows > 0 && startUs(p) >= tracedStartUs)
    // receivedAt of every spooled delivery, by generator sequence number
    val mapper = new ObjectMapper()
    val received = Files.list(live.spool).iterator().asScala
      .filterNot(_.getFileName.toString.startsWith(".")).map { f =>
        val j = mapper.readTree(Files.readString(f))
        j.path("headers").path("x-bench-seq").asText().toInt -> j.path("receivedAtMicros").asLong()
      }.toMap
    val batchStartUs = ps.map(p => p.batchId -> startUs(p)).toMap
    val traced = fresh.filter(_._1 >= tracedFrom)
    val pickup = traced.flatMap { case (k, _) =>
      val d = deliveries(k)
      for (p <- firstPush.get(d.eventId); b <- batchStartUs.get(p.batchId);
           r <- received.get(d.seq)) yield {
        val req = d.eventId
        Probe.spans.add(Span("event", "webhook", "", req, dues(k) * 1000, p.atMicros * 1000))
        Probe.spans.add(Span("relay.ack", "relay", "event", req, dues(k) * 1000, acks(k) * 1000))
        Probe.spans.add(Span("spool_source.pickup", "spool_source", "event", req, r * 1000, b * 1000))
        Probe.spans.add(Span("stream.batch", "stream", "event", req, b * 1000, p.atMicros * 1000))
        (b - r) / 1e6
      }
    }
    val ackMs = (tracedFrom until dues.length).map(k => (acks(k) - dues(k)) / 1e3)
    // every delivery the measured stream saw: its warm-up plus the window
    val readRows = ps.map(_.numInputRows).sum.toDouble
    val state = ps.lastOption.flatMap(_.stateOperators.headOption)
    val overheadS = (med(traced.map(_._2)) - med(fresh.filter(_._1 < tracedFrom).map(_._2))) / 1e3
    val calls = Recorder.callMs
    Probe.layerCounters("stream", data.size, Nil) ++ Seq(
      ("jvm.peak_rss_mb", Stats.peakRssMb(), "MB"),
      ("relay.accepted", accepted.toDouble, "count"),
      ("relay.spool_files", received.size.toDouble, "count"),
      ("relay.ack_p50_ms", Stats.pct(ackMs, 50), "ms"),
      ("relay.ack_p99_ms", Stats.pct(ackMs, 99), "ms"),
      ("gen.lag_max_ms", lagMaxMs, "ms"),
      ("spool_source.pickup_p50_s", if (pickup.isEmpty) 0.0 else Stats.pct(pickup, 50), "s"),
      ("spool_source.pickup_p99_s", if (pickup.isEmpty) 0.0 else Stats.pct(pickup, 99), "s"),
      ("spool_source.list_ms", med(data.map(dur(_, "latestOffset"))), "ms"),
      ("spool_source.reads_per_delivery", readRows / received.size, "ratio"),
      ("stream.batches", data.size.toDouble, "count"),
      ("stream.batch_p50_ms", med(data.map(dur(_, "triggerExecution"))), "ms"),
      ("stream.plan_ms", med(data.map(dur(_, "queryPlanning"))), "ms"),
      ("stream.wal_ms", med(data.map(dur(_, "walCommit"))), "ms"),
      ("state.rows", state.map(_.numRowsTotal.toDouble).getOrElse(0.0), "count"),
      ("state.commit_ms", med(data.flatMap(_.stateOperators.headOption).map(_.commitTimeMs.toDouble)), "ms"),
      ("state.bytes", state.map(_.memoryUsedBytes.toDouble).getOrElse(0.0), "bytes"),
      ("push_sink.s", med(data.map(dur(_, "addBatch"))) / 1e3, "s"),
      ("push_sink.requests", Recorder.requestCount.toDouble / math.max(1, ps.count(_.numInputRows > 0)), "count"),
      ("push_sink.rows_per_request",
        Recorder.pushed.size.toDouble / math.max(1L, Recorder.requestCount), "count"),
      ("push_sink.retries", 0.0, "count"),
      ("push_sink.call_p99_ms", if (calls.isEmpty) 0.0 else Stats.pct(calls, 99), "ms"),
      ("trace.overhead_s", overheadS, "s"))
  }
}
