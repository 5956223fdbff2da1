package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming ingest throughput bench: sustained events/sec through
  * the full ingest dataflow (envelope adapter → route → gate →
  * stateful 14-day ledger → sink) on the RocksDB state store
  * provider — the numbers BENCH's batch medians don't capture.
  *
  * Method: the sf events table is rewritten as raw webhook JSON
  * lines (the S1 envelope payload) across 64 text files; a file-source stream consumes them
  * `maxFilesPerTrigger` at a time (several micro-batches, like a
  * drained backlog), foreachBatch counts rows out. Reported rate =
  * admitted facts / wall-clock from query start to
  * `processAllAvailable` (includes every micro-batch's planning,
  * state commit and checkpoint overhead — the honest sustained
  * figure, not a peak). Checkpoint + state live under /dev/shm like
  * Bench's shuffle dirs (this VM's disk file-create path is the
  * documented noise source).
  *
  * Three measurements per invocation (the SCALING.md StreamBench
  * evidence set):
  *
  *  1. THROUGHPUT CURVE — one sustained run per `maxFilesPerTrigger`
  *     load point (4, 8 and 16 files per trigger): smaller triggers = more micro-batches =
  *     more per-batch state-commit overhead; the curve shows how
  *     rate scales with batch size.
  *  2. STATE SIZE — each point reports the ledger operator's
  *     `numRowsTotal` and the RocksDB SST footprint from the final
  *     `StreamingQueryProgress` (the state the 14-day TTL bounds).
  *  3. CHECKPOINT-RESTART RECOVERY — after the last point, a second
  *     small event wave (fresh ids) lands and a NEW query resumes
  *     from the same checkpoint: elapsed start→drain includes the
  *     RocksDB state reload + dedup of the wave against the restored
  *     ledger — the executor-replacement / job-bounce story. The
  *     wave's admitted count is asserted in-line (a wrong restore
  *     would double-admit or drop).
  *  4. SUSTAINED LOAD — 10 key-offset replicas of the event table streamed through a
  *     fresh ledger at the top load point, with the per-micro-batch
  *     duration + state-size series from the progress log. Gates the
  *     steady-state claim in-line: per-event cost stays O(1) as the
  *     ledger grows (last-quartile batch-duration median ≤ 3× the
  *     first's), and every unique id is admitted exactly once.
  *
  * One JSON line on stdout + `stream_bench_out.json` (the Bench
  * artifact convention).
  */
object StreamBench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val nFiles = 64
    val fpts = Seq(4, 8, 16)
    val restartWave = 20000
    val spark = GraftSession.builder("32")
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val scratch = "/dev/shm/graft-streambench"
    def rmrf(p: java.io.File): Unit = {
      Option(p.listFiles()).foreach(_.foreach(rmrf)); p.delete(); ()
    }
    rmrf(new java.io.File(scratch))
    val inDir = s"$scratch/in"

    // events → raw ALOWARE webhook JSON lines (S1 payload shape the
    // adapters parse); event ids are unique, so every line must
    // survive the ledger — admitted count is also a correctness check
    val events = Tables(spark, sfDir, "events")
    val nEvents = events.count()
    val maxId = events.agg(max(col("event_id"))).head().getLong(0)
    def toLines(df: DataFrame): DataFrame =
      df.select(to_json(struct(
        when(col("event_id") % 2 === 0, lit("outbound_call"))
          .otherwise(lit("outbound_text")).as("event"),
        struct(col("event_id").as("id"), col("user_id").as("owner_id"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("created_at"))
          .as("body"))).as("value"))
    toLines(events).repartition(nFiles).write.mode("overwrite").text(inDir)

    /** One sustained run: consume everything in `inDir` under `chkDir`,
      * return (admitted, secs, microBatches, stateRows, stateBytes). */
    def runOnce(chkDir: String, perTrigger: Int): (Long, Double, Long, Long, Long) = {
      val admitted = new java.util.concurrent.atomic.AtomicLong(0)
      val lines = spark.readStream
        .option("maxFilesPerTrigger", perTrigger)
        .schema("value STRING").text(inDir)
      val facts = graft.streaming.StreamingIngest.transform(
        graft.streaming.StreamingIngest.lineEnvelopes(lines, "ALOWARE"),
        roster = None)
      val t0 = System.nanoTime()
      val q = facts.writeStream
        .outputMode("append")
        .option("checkpointLocation", chkDir)
        .foreachBatch { (batch: DataFrame, _: Long) =>
          admitted.addAndGet(batch.count()); ()
        }
        .start()
      try q.processAllAvailable() finally q.stop()
      val secs = (System.nanoTime() - t0) / 1e9
      val (batches, stateRows, stateBytes) = q.lastProgress match {
        case null => (-1L, -1L, -1L)
        case p =>
          val so = p.stateOperators.headOption
          val rows = so.map(_.numRowsTotal).getOrElse(-1L)
          // RocksDB reports its footprint via custom metrics; fall
          // back to memoryUsedBytes for the HDFS-backed provider
          val bytes = so.map { s =>
            val sst = Option(s.customMetrics)
              .map(m => m.getOrDefault("rocksdbTotalSSTFilesBytes",
                java.lang.Long.valueOf(0L)).longValue()).getOrElse(0L)
            if (sst > 0) sst else s.memoryUsedBytes
          }.getOrElse(-1L)
          (p.batchId + 1, rows, bytes)
      }
      (admitted.get(), secs, batches, stateRows, stateBytes)
    }

    val points = fpts.map { fpt =>
      val (adm, secs, batches, stateRows, stateBytes) =
        runOnce(s"$scratch/chk-fpt$fpt", fpt)
      val line =
        s"""{"files_per_trigger":$fpt,"rows_per_sec":${adm / secs},"rows":$adm,"secs":$secs,"micro_batches":$batches,"state_rows":$stateRows,"state_bytes":$stateBytes}"""
      System.err.println(s"STREAMBENCH POINT $line")
      line
    }

    // checkpoint-restart recovery: a fresh-id wave lands; a NEW query
    // resumes the LAST point's checkpoint (ledger already holds every
    // original id). Elapsed includes RocksDB restore + wave dedup.
    val lastChk = s"$scratch/chk-fpt${fpts.last}"
    toLines(events.limit(restartWave)
        .withColumn("event_id", col("event_id") + lit(maxId + 1)))
      .repartition(4).write.mode("append").text(inDir)
    val (admWave, recSecs, _, recRows, recBytes) = runOnce(lastChk, fpts.last)
    val recoveryOk = admWave == math.min(restartWave, nEvents)
    val restartJson =
      s"""{"wave_rows":$admWave,"expected":${math.min(restartWave, nEvents)},"ok":$recoveryOk,"secs":$recSecs,"state_rows":$recRows,"state_bytes":$recBytes}"""
    System.err.println(s"STREAMBENCH RESTART $restartJson")
    // a wrong restore (double-admit or drop) must FAIL the bench run,
    // not just flip a JSON flag nobody gates on
    require(recoveryOk,
      s"restart recovery mismatch: admitted $admWave, " +
        s"expected ${math.min(restartWave, nEvents)}")

    // 4. SUSTAINED LOAD — the curve above drains a fixed backlog in
    // seconds; this point proves the ledger's STEADY STATE under
    // continuous arrival: `sustainReplicas` key-offset copies of the
    // event table (≥1M unique ids at sf0.1 with the default 10)
    // streamed at the 16-files/trigger rate through a fresh ledger,
    // with the per-micro-batch duration and state-size SERIES kept
    // from the query progress log. The claim it gates: batch
    // duration stays flat while RocksDB state grows linearly — i.e.
    // per-event cost is O(1) in ledger size (the last-quartile
    // median must stay within 3× of the first-quartile median; a
    // state-scan-per-batch regression would blow far past that).
    val sustainReplicas = 10
    val sustainJson = {
      val in2 = s"$scratch/in2"
      (0 until sustainReplicas)
        .map(k => toLines(events.withColumn("event_id",
          col("event_id") + lit(k * (maxId + 1)))))
        .reduce(_ unionByName _)
        .repartition(nFiles * sustainReplicas).write.mode("overwrite")
        .text(in2)
      val admitted = new java.util.concurrent.atomic.AtomicLong(0)
      val lines = spark.readStream
        .option("maxFilesPerTrigger", fpts.last)
        .schema("value STRING").text(in2)
      val facts = graft.streaming.StreamingIngest.transform(
        graft.streaming.StreamingIngest.lineEnvelopes(lines, "ALOWARE"),
        roster = None)
      // Complete per-batch series via the shared listener harness
      // (graft.streaming.ProgressCollector — recentProgress caps at
      // ~100 entries and an id-filtered listener races registration;
      // both documented there).
      val collected = graft.streaming.ProgressCollector.run(spark) {
        facts.writeStream
          .outputMode("append")
          .option("checkpointLocation", s"$scratch/chk-sustain")
          .foreachBatch { (batch: DataFrame, _: Long) =>
            admitted.addAndGet(batch.count()); ()
          }
          .start()
      }
      val secs = collected.secs
      val lastBatch = collected.lastBatch
      val raw = collected.series
      // coverage gate: the quartile analysis is only meaningful over
      // the WHOLE run — every batch id from 0 to the last must be
      // present (one progress event per micro-batch on a fresh
      // checkpoint)
      val seen = raw.map(_.batchId).toSet
      require(lastBatch >= 0 && (0L to lastBatch).forall(seen.contains),
        s"sustained progress series incomplete: have ${seen.size} of " +
          s"${lastBatch + 1} batches — quartile gate would be skewed")
      val series = raw
        .filter(p => p != null && p.numInputRows > 0)
        .map { p =>
          val so = p.stateOperators.headOption
          val ms = Option(p.durationMs)
            .map(_.getOrDefault("triggerExecution",
              java.lang.Long.valueOf(-1L)).longValue()).getOrElse(-1L)
          val rows = so.map(_.numRowsTotal).getOrElse(-1L)
          val bytes = so.map { s0 =>
            val sst = Option(s0.customMetrics)
              .map(m => m.getOrDefault("rocksdbTotalSSTFilesBytes",
                java.lang.Long.valueOf(0L)).longValue()).getOrElse(0L)
            if (sst > 0) sst else s0.memoryUsedBytes
          }.getOrElse(-1L)
          (p.batchId, ms, rows, bytes)
        }
      def medianMs(xs: Seq[Long]): Long =
        if (xs.isEmpty) -1L
        else {
          val s0 = xs.sorted
          if (s0.size % 2 == 1) s0(s0.size / 2)
          else (s0(s0.size / 2 - 1) + s0(s0.size / 2)) / 2
        }
      val quart = math.max(1, series.size / 4)
      val firstQ = medianMs(series.take(quart).map(_._2))
      val lastQ = medianMs(series.takeRight(quart).map(_._2))
      val flat = firstQ > 0 && lastQ <= firstQ * 3
      val totalExpected = nEvents * sustainReplicas
      require(admitted.get() == totalExpected,
        s"sustained ledger admitted ${admitted.get()}, " +
          s"expected $totalExpected (all ids unique)")
      require(flat,
        s"sustained batch duration not flat: first-quartile median " +
          s"$firstQ ms -> last-quartile median $lastQ ms")
      val seriesJson = series.map { case (b, ms, rows, bytes) =>
        s"""{"b":$b,"ms":$ms,"state_rows":$rows,"state_bytes":$bytes}"""
      }.mkString("[", ",", "]")
      s"""{"events":$totalExpected,"files":${nFiles * sustainReplicas},"files_per_trigger":${fpts.last},"secs":$secs,"rows_per_sec":${admitted.get() / secs},"first_quartile_ms":$firstQ,"last_quartile_ms":$lastQ,"flat":$flat,"batches":$seriesJson}"""
    }
    System.err.println(s"STREAMBENCH SUSTAINED $sustainJson")

    // 5. CORPUS ADMISSION — the streaming twin of b2_corpus_delta
    // (gateFlags + seeded LSH probe in-stream, survivor-min compaction
    // at window close), timed per stage with the probe's state
    // footprint, and gated IN-LINE on bit-parity: the admitted set
    // must equal the batch b2Fin's on the same replayed arrivals.
    val admitJson = {
      import graft.streaming.StreamingAdmission
      val inA = s"$scratch/inadm"
      val docs = Tables(spark, sfDir, "documents")
      val arrPred = graft.queries.DedupQueries.isDeltaArrival(col("doc_id"))
      val nArr = docs.filter(arrPred).count()
      docs.filter(arrPred)
        .select(to_json(struct(col("doc_id"), col("source"), col("text")))
          .as("value"))
        .repartition(16).write.mode("overwrite").text(inA)
      val (rates, quarantine) =
        StreamingAdmission.publishedStatics(spark, sfDir)
      val index = docs.filter(!arrPred && col("doc_id") % 10 =!= 7)
        .select(col("doc_id"), col("text"))
      def docStream = spark.readStream
        .option("maxFilesPerTrigger", 4)
        .schema("value STRING").text(inA)
        .select(from_json(col("value"),
          org.apache.spark.sql.types.StructType.fromDDL(
            "doc_id LONG, source STRING, text STRING")).as("j"))
        .select(col("j.doc_id"), col("j.source"), col("j.text"))
      def runStage(df: org.apache.spark.sql.DataFrame, outDir: String,
          chk: String): (Double, Long, Long) = {
        val t0 = System.nanoTime()
        val q = df.writeStream.outputMode("append")
          .option("checkpointLocation", chk)
          .foreachBatch { (b: DataFrame, _: Long) =>
            b.write.mode("append").parquet(outDir); ()
          }.start()
        try q.processAllAvailable() finally q.stop()
        val secs = (System.nanoTime() - t0) / 1e9
        // per-micro-batch wall times (batch 0 carries one-time cost:
        // initial-state seeding for the probe, source listing) — the
        // steady-state per-batch cost is what scales with the stream
        System.err.println(s"STREAMBENCH STAGE $chk batch_ms=" +
          q.recentProgress.map(_.batchDuration).mkString(","))
        val (rows, bytes) = Option(q.lastProgress)
          .flatMap(p => p.stateOperators.headOption).map { so =>
            val sst = Option(so.customMetrics)
              .map(m => m.getOrDefault("rocksdbTotalSSTFilesBytes",
                java.lang.Long.valueOf(0L)).longValue()).getOrElse(0L)
            (so.numRowsTotal, if (sst > 0) sst else so.memoryUsedBytes)
          }.getOrElse((-1L, -1L))
        (secs, rows, bytes)
      }
      val (gateSecs, _, _) = runStage(
        StreamingAdmission.gateFlags(docStream, rates, quarantine),
        s"$scratch/admflags", s"$scratch/chk-admflags")
      // Stateful-operator parallelism is FIXED at first run from
      // spark.sql.shuffle.partitions (persisted in the checkpoint):
      // size it to STATE VOLUME, not driver core count — the probe's
      // state here is ~17k band buckets / <1 MB, for which one
      // RocksDB instance per core just multiplies per-micro-batch
      // open/commit/snapshot overhead. Production sizes this by the
      // expected bucket count the same way (the gate stage above is
      // the in-run control for the A/B in OPTIMIZATION_r18.md): 8
      // stores for ~17k buckets / <1 MB of state.
      val stateParts = "8"
      val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
      spark.conf.set("spark.sql.shuffle.partitions", stateParts)
      val (probeSecs, stRows, stBytes) =
        try runStage(
          StreamingAdmission.dupHits(docStream, index).toDF(),
          s"$scratch/admhits", s"$scratch/chk-admhits")
        finally spark.conf.set("spark.sql.shuffle.partitions", prevParts)
      val tC = System.nanoTime()
      // window-close decontam RECHECK: the arrivals' own gram
      // evidence vs the benchmark index — the stage that catches
      // contaminated arrivals the published quarantine list never
      // saw (on a replayed batch it equals quarantine ∩ arrivals,
      // so batch parity below still holds bit-exactly)
      val recheckIds = StreamingAdmission.arrivalContamIds(
        docs.filter(arrPred).select(col("doc_id"), col("text")),
        graft.queries.TextQueries.benchGramIndex(spark, sfDir))
      val fin = StreamingAdmission.compact(
        spark.read.parquet(s"$scratch/admflags"),
        spark.read.parquet(s"$scratch/admhits"),
        recheckContamIds = Some(recheckIds))
      val admitted = fin.filter(col("admitted"))
        .select(col("doc_id")).collect().map(_.getLong(0)).toSet
      val compactSecs = (System.nanoTime() - tC) / 1e9
      val want = graft.queries.BuildQueries.b2Fin(spark, sfDir)
        .filter(col("admitted"))
        .select(col("doc_id")).collect().map(_.getLong(0)).toSet
      // a drift here means the continuous loop no longer admits what
      // the nightly manifest declares — fail the bench, not a flag
      require(admitted == want,
        s"streaming admission parity mismatch: ${admitted.size} admitted" +
          s" vs batch ${want.size}")

      // FEEDBACK edges (round 14) — the window-close maintenance the
      // loop runs after compaction, both timed in-line:
      //  (1) b4's index fold: arrival signatures appended to the
      //      durable signature index + cluster labels updated via
      //      star∪delta (the next window's probes see this window);
      //  (2) the gate-statics republish: admitted mass folded into
      //      the RatePublisher, mixture-KL trigger, new t12 card.
      val tF = System.nanoTime()
      val foldLabelRows =
        graft.queries.BuildQueries.foldLabels(spark, sfDir).count()
      val foldSecs = (System.nanoTime() - tF) / 1e9
      val foldSigRows = spark.table(
        graft.queries.BuildQueries.foldSigsTableName(sfDir)).count()
      require(foldLabelRows > 0 && foldSigRows > 0,
        "index fold produced empty durable tables")
      val pub = graft.streaming.RatePublisher.over(spark, sfDir,
        docs.filter(!arrPred && col("doc_id") % 10 =!= 7)
          .select(col("doc_id"), col("source"), col("text")))
      val admittedMass = fin.filter(col("admitted"))
        .groupBy(col("source")).agg(sum(col("n_words")).as("m"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val tR = System.nanoTime()
      // accumulate-only: PositiveInfinity, not MaxValue — driftNats
      // is +Inf when an admitted source has zero index-card mass,
      // and Inf > MaxValue would republish here and then fail the
      // generation gate below with a misleading "did not fire"
      pub.fold(admittedMass, klThresholdNats = Double.PositiveInfinity)
      val driftNats = pub.driftNats
      val republished = pub.fold(Map.empty, klThresholdNats = 0.0)
      val republishSecs = (System.nanoTime() - tR) / 1e9
      // driftNats is +Inf when an admitted source has zero
      // index-card mass; bare Infinity is invalid JSON
      val driftJson =
        if (driftNats.isInfinite) "\"inf\"" else driftNats.toString
      require(republished && pub.generation == 2 && driftNats > 0,
        s"gate-statics republish did not fire (drift $driftNats)")

      //  (3) the continuous SERVING SINK + its maintenance job:
      //      each micro-batch of admitted docs appends one small
      //      file per source partition (the fragmentation a
      //      1-minute-trigger deployment accrues), then the
      //      crash-safe bin-pack compaction restores the serving
      //      layout — rows identical, same partition dirs, ~1 file
      //      per partition (CorpusLayout.compactPartitioned).
      val serveDir = s"$scratch/admserve"
      // the admitted ids are already ON THE DRIVER (collected for
      // the parity gate above) — a literal frame keeps the stream-
      // static join's static side a broadcast of 23 longs instead
      // of re-executing fin's whole plan (parquet scans + gram
      // recheck + clustering window) every micro-batch
      val admitIds = {
        import spark.implicits._
        admitted.toSeq.sorted.toDF("doc_id")
      }
      val tS = System.nanoTime()
      val qServe = docStream
        .select(col("doc_id"), col("source"),
          expr("size(split(text, ' '))").cast("long").as("n_words"))
        .join(broadcast(admitIds), Seq("doc_id"))
        .writeStream.outputMode("append")
        .option("checkpointLocation", s"$scratch/chk-admserve")
        .foreachBatch { (b: DataFrame, _: Long) =>
          b.write.partitionBy("source").mode("append").parquet(serveDir)
          ()
        }.start()
      try qServe.processAllAvailable() finally qServe.stop()
      val serveSecs = (System.nanoTime() - tS) / 1e9
      def dataFileCount(): Int = {
        // listFiles() is null for a missing dir or an I/O error —
        // count 0 so the require below reports the real problem
        def walk(f: java.io.File): Int =
          if (f.isDirectory)
            Option(f.listFiles()).getOrElse(Array.empty).map(walk).sum
          else if (f.getName.startsWith("_") || f.getName.startsWith("."))
            0
          else 1
        walk(new java.io.File(serveDir))
      }
      val serveFilesBefore = dataFileCount()
      val tM = System.nanoTime()
      // the combined lifecycle entry point (Maintenance.run) is the
      // production maintain stage — here it carries one serving
      // tree; its crash recovery + idempotence are what make an
      // unattended cron deployment of this stage safe
      graft.etl.Maintenance.run(spark,
        serving = Seq(graft.etl.Maintenance.ServingTree(serveDir,
          partitionCols = Seq("source"), sortCols = Seq("doc_id"),
          maxRecordsPerFile = 1 << 20)))
      val maintainSecs = (System.nanoTime() - tM) / 1e9
      val serveFilesAfter = dataFileCount()
      val served = spark.read.parquet(serveDir)
      val servedIds =
        served.select(col("doc_id")).collect().map(_.getLong(0)).toSet
      require(servedIds == admitted && served.count() == admitted.size,
        "serving sink lost or duplicated admitted docs across compaction")
      // <= not <: a tree already at 1 file per partition (one
      // micro-batch, or one admitted doc per source) has nothing to
      // bin-pack — compaction must then be a no-op, not a failure.
      // Growth is still a hard fail, and the row-parity require
      // above already proves the job touched the tree correctly.
      require(serveFilesAfter <= serveFilesBefore,
        s"maintenance grew the serving tree " +
          s"($serveFilesBefore -> $serveFilesAfter files)")

      //  (4) FORGET end-to-end (round 17) — a delete-by-key request
      //      lands mid-deployment and the cascade runs LIVE:
      //      (a) the forgotten ADMITTED doc scrubs out of the
      //          partitioned serving tree via the fenced-leased
      //          SELECTIVE leaf rewrite (same token the sink and the
      //          compaction take), parity require()d against
      //          rebuild-without-keys;
      //      (b) the probe UN-SEES a forgotten INDEX doc: a
      //          redelivered near-dup it had been suppressing is
      //          re-streamed against the pre-forget seeds (must stay
      //          suppressed) and the post-forget seeds (must admit) —
      //          ForgetSpec's reseed contract, composed in-line.
      val tG = System.nanoTime()
      // pick the redelivery: an arrival the probe rejected as an
      // index dup, together with EVERY index doc it matched (forget
      // them all, or a second ghost keeps suppressing it)
      val idxHitRows = spark.read.parquet(s"$scratch/admhits")
        .filter(!graft.queries.DedupQueries.isDeltaArrival(col("d2")))
        .select(col("d1"), col("d2")).collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      require(idxHitRows.nonEmpty,
        "forget stage needs at least one index-dup suppression to un-see")
      val byArrival = idxHitRows.groupBy(_._1)
      val (redeliverId, ghostIds0) = byArrival
        .minBy { case (a, hs) => (hs.map(_._2).distinct.length, a) }
      val ghostIds = ghostIds0.map(_._2).distinct.toSet
      // (a) serving-tree scrub under the fenced lease
      val forgetServedId = admitted.min
      val scrubRep = graft.etl.MaintenanceLease
        .withLeaseFenced(spark, serveDir) { fence =>
          graft.etl.CorpusLayout.scrubPartitioned(spark, serveDir,
            Seq("source"), Seq("doc_id"), maxRecordsPerFile = 1 << 20,
            forget = {
              import spark.implicits._
              Seq(forgetServedId).toDF("doc_id")
            }, idCol = "doc_id", fence = Some(fence))
        }
      val servedPost = spark.read.parquet(serveDir)
        .select(col("doc_id")).collect().map(_.getLong(0)).toSet
      require(servedPost == admitted - forgetServedId,
        s"forget scrub parity: served ${servedPost.size} vs expected " +
          s"${admitted.size - 1}")
      require(scrubRep.partitions.size == 1 && scrubRep.skipped >= 1,
        s"forget scrub was not selective: rewrote " +
          s"${scrubRep.partitions.size} partitions, skipped " +
          s"${scrubRep.skipped}")
      // (b) un-see via probe reseed (the redelivery as a 1-row stream)
      def redeliveryHits(seed: DataFrame, tag: String): Set[Long] = {
        import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
        import spark.implicits._
        implicit val sqlCtx = spark.sqlContext
        val in = MemoryStream[(Long, String, String)]
        val q = StreamingAdmission
          .dupHits(in.toDF().toDF("doc_id", "source", "text"), seed)
          .writeStream.format("memory")
          .queryName(s"streambench_forget_$tag")
          .outputMode("append").start()
        try {
          val row = docs.filter(col("doc_id") === redeliverId)
            .select(col("doc_id"), col("source"), col("text"))
            .collect().head
          in.addData((row.getLong(0), row.getString(1), row.getString(2)))
          q.processAllAvailable()
          spark.table(q.name).select(col("d1")).collect()
            .map(_.getLong(0)).toSet
        } finally q.stop()
      }
      val preHits = redeliveryHits(index, "pre")
      val postHits = redeliveryHits(
        index.filter(!col("doc_id").isin(ghostIds.toSeq: _*)), "post")
      require(preHits.contains(redeliverId),
        s"pre-forget probe failed to suppress redelivery $redeliverId")
      require(postHits.isEmpty,
        s"post-forget probe still suppresses $redeliverId via " +
          s"ghosts: $postHits")
      val forgetSecs = (System.nanoTime() - tG) / 1e9

      // Probe-throughput FLOOR (r18 verdict item 7, gating the r18
      // state-partition fix): the r17 shape (32 RocksDB stores for
      // <1 MB of state) read 105 rows/s, the fixed shape 198-215
      // (SCALING.md round-18 table). 120 sits above the broken
      // regime with ~40% headroom below the worst fixed reading, so
      // a regression to per-core state fan-out fails the bench while
      // this VM's documented cold/degraded windows don't.
      val probeRpsFloor = 120.0
      val probeRps = nArr / probeSecs
      require(probeRps >= probeRpsFloor,
        f"admission probe throughput $probeRps%.0f rows/s below the " +
          f"$probeRpsFloor%.0f floor — stateful shuffle partitions " +
          "regressed to core-count fan-out? (SCALING.md round-18)")
      val line =
        s"""{"arrivals":$nArr,"gate_secs":$gateSecs,"gate_rows_per_sec":${nArr / gateSecs},"probe_secs":$probeSecs,"probe_rows_per_sec":$probeRps,"probe_state_rows":$stRows,"probe_state_bytes":$stBytes,"compact_secs":$compactSecs,"admitted":${admitted.size},"batch_parity":true,"fold_secs":$foldSecs,"fold_label_rows":$foldLabelRows,"fold_sig_rows":$foldSigRows,"republish_secs":$republishSecs,"republish_drift_nats":$driftJson,"card_generation":${pub.generation},"serve_secs":$serveSecs,"serve_files_before":$serveFilesBefore,"serve_files_after":$serveFilesAfter,"maintain_secs":$maintainSecs,"forget_secs":$forgetSecs,"forget_scrub_partitions":${scrubRep.partitions.size},"forget_unsee":true,"forget_ghosts":${ghostIds.size}}"""
      System.err.println(s"STREAMBENCH ADMISSION $line")
      line
    }

    val out =
      s"""{"metric":"ingest_rows_per_sec","unit":"rows/sec","n_events":$nEvents,"files":$nFiles,"state_store":"rocksdb","sf":"$sfDir","points":[${points.mkString(",")}],"restart":$restartJson,"sustained":$sustainJson,"admission":$admitJson}"""
    println(out)
    try java.nio.file.Files.write(
      java.nio.file.Paths.get("stream_bench_out.json"),
      (out + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case _: Throwable => () }
    rmrf(new java.io.File(scratch))
    spark.stop()
  }
}
