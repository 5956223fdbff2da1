package perfbench

import java.nio.file.Path
import java.time.LocalDate

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, concat, from_json, lit, sum, timestamp_micros, to_timestamp}
import org.apache.spark.sql.types.StructType
import org.apache.spark.storage.StorageLevel

import graft.etl.{Adapters, Dedup, Dims, RosterGate, Scoreboard}

/** The batch ingest layers, split one by one (traced `webhook_live`
  * runs only). After the stream has stopped, its spool is replayed as
  * one static batch in `graft.etl.IngestPipeline`'s order: adapters →
  * within-batch dedup → roster gate → ledger dedup, then `Dims` and
  * `Scoreboard` over the admitted facts. Each layer returns a lazy
  * DataFrame, so each is timed by materializing its output under a
  * span; its input is already materialized, so the span holds that
  * layer's work only. */
object BatchReplay {
  /** Live keys of the 14-day ledger besides the warm-up events' keys:
    * enough that the ledger side of the anti-join is not tiny. */
  val LedgerKeys = 200000L
  private val Now = 1762351200L // 2025-11-05 14:00 UTC, the mix's day
  private val EnvelopeDdl =
    "source STRING, headers MAP<STRING,STRING>, body STRING, receivedAtMicros BIGINT"

  def run(spark: SparkSession, spool: Path, roster: DataFrame, warmIds: Set[String],
      expected: Set[String]): (Seq[(String, Double, String)], Seq[(String, String)],
      Seq[(String, Boolean)]) = {
    import spark.implicits._
    // Input, untimed: the spool as the relay wrote it, and a ledger
    // holding the warm-up events (already ingested) plus LedgerKeys
    // keys no delivery carries.
    val envelopes = spark.read.schema("value STRING").text(spool.toString)
      .select(from_json(col("value"), StructType.fromDDL(EnvelopeDdl)).as("e"))
      .select(col("e.source").as("source"), col("e.headers").as("headers"),
        col("e.body").as("body"), timestamp_micros(col("e.receivedAtMicros")).as("receivedAt"))
      .persist(StorageLevel.MEMORY_ONLY)
    val nEnvelopes = envelopes.count()

    Probe.enabled = true
    val req = "replay"
    def layer(name: String)(df: => DataFrame): (DataFrame, Long) =
      Probe.span(spark, name, name, req) {
        val out = df.persist(StorageLevel.MEMORY_ONLY)
        (out, out.count())
      }
    val (adapted, nAdapted) = layer("adapters")(Adapters.route(envelopes))
    val ledger = adapted.filter(col("eventId").isin(warmIds.toSeq: _*))
      .select(col("dedupKey").as("pk"))
      .unionByName(spark.range(LedgerKeys).select(concat(lit("LEDGER:"), col("id")).as("pk")))
      .withColumn("expiresAt", lit(Now + 7 * 86400L))
      .persist(StorageLevel.MEMORY_ONLY)
    val nLedger = ledger.count()
    val (deduped, nDeduped) = layer("dedup")(Dedup.withinBatchFirstWins(adapted, "eventId",
      col("receivedAt"), col("dedupKey")))
    val (allowed, nAllowed) = layer("roster_gate")(RosterGate(deduped, Some(roster)))
    // The ledger anti-join is materialized by collecting the admitted
    // ids on the frame's own plan, so the executed (final adaptive)
    // plan shows the join strategy.
    val (admittedIds, ledgerJoin) = Probe.span(spark, "dedup.ledger", "dedup", req) {
      val ids = Dedup.ledgerDedup(allowed, ledger, Now)._1.select(col("eventId"))
      val got = ids.as[String].collect().toSet
      (got, joinStrategy(ids.queryExecution.executedPlan.toString))
    }
    val (board, nBoard) = layer("scoreboard") {
      val facts = allowed.filter(col("eventId").isin(admittedIds.toSeq: _*))
      val day = LocalDate.parse("2025-11-05")
      val rules = roster.select(col("id").as("agentId"), lit(9).as("startHour"),
        lit(17).as("endHour"))
      Scoreboard.scoreboard(facts, Dims.dimMetric(spark),
        Dims.dimShift(rules, day.minusDays(1), day.plusDays(1)),
        to_timestamp(lit("2025-11-05 14:00:00")))
    }
    val boardEvents = board.agg(sum(col("n_events"))).head().getLong(0)
    Probe.enabled = false
    Seq(envelopes, adapted, ledger, deduped, allowed, board).foreach(_.unpersist(true))

    val spans = Probe.spans.asScala.toVector.filter(_.reqId == req)
    def secs(layer: String) = spans.filter(_.layer == layer).map(_.seconds).sum
    def frac(a: Long, b: Long) = if (b == 0) 0.0 else a.toDouble / b
    val jobs = Probe.jobRecs.groupBy(_.layer).map { case (k, v) => k -> v.size.toDouble }
    val layers = Seq("adapters", "dedup", "roster_gate", "scoreboard").flatMap { l =>
      Seq((s"$l.s", secs(l), "s"), (s"$l.jobs", jobs.getOrElse(l, 0.0), "count"))
    } ++ Seq(
      ("adapters.kept_frac", frac(nAdapted, nEnvelopes), "ratio"),
      ("dedup.within_kept_frac", frac(nDeduped, nAdapted), "ratio"),
      ("roster_gate.kept_frac", frac(nAllowed, nDeduped), "ratio"),
      ("dedup.ledger_admit_frac", frac(admittedIds.size, nAllowed), "ratio"))
    val report = Seq(
      "replay_envelopes" -> nEnvelopes.toString,
      "replay_ledger_keys" -> nLedger.toString,
      "replay_admitted" -> admittedIds.size.toString,
      "replay_scoreboard_rows" -> nBoard.toString,
      "dedup_ledger_join" -> Json.str(ledgerJoin))
    // The batch form must admit exactly what the stream had to push
    // (the warm-up events sit in the ledger), and the scoreboard must
    // count every admitted fact once.
    val checks = Seq(
      "replay_admits_expected" -> (admittedIds == expected),
      "replay_scoreboard_counts" -> (boardEvents == admittedIds.size))
    (layers, report, checks)
  }

  /** Join operators named in an executed plan, e.g. "BroadcastHashJoin". */
  def joinStrategy(plan: String): String = {
    val ops = "\\b(\\w*Join)\\b".r.findAllMatchIn(plan).map(_.group(1)).toSeq.distinct
    if (ops.isEmpty) "none" else ops.mkString("+")
  }
}
