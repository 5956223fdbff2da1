package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Watermark CALIBRATION — closes the loop between the batch
  * lateness audit (e33_late_audit: exact per-transport-partition
  * event-time disorder quantiles) and the `withWatermark` delay every
  * §2.9 streaming twin takes as a parameter.
  *
  * The principled delay is "the p99 observed lateness, plus margin":
  * wide enough to keep ≥99% of late arrivals, tight enough that
  * windowed state finalizes hours-not-days sooner than a hand-picked
  * guess. Before this object the twins took hand-picked strings
  * ("10 minutes", "0 seconds") and the ledger reused its 14-day TTL;
  * the TTL is a PRODUCT semantic (how long a duplicate is remembered
  * — [[graft.etl.Dedup]] keeps it), but the DISORDER allowance of the
  * aggregation twins ([[StreamingSessions]], [[StreamingScoreboard]],
  * [[StreamingCuration]], [[StreamingEnrich]]) is a transport
  * property, and e33 measures it exactly. A 14-day disorder allowance
  * against a transport whose p99 lateness is minutes holds every
  * window's state ~5000× longer than needed. MEASURED (SCALING.md
  * round 13, archived in `wmstate_out.json`): on the same
  * time-ordered sf0.1 replay the calibrated delay's session state
  * PLATEAUS at ~12k rows (zero rows dropped, sessions emitted as the
  * stream runs) while the 14-day delay's state GROWS monotonically —
  * 4.7× more rows by the end of even that short replay, unbounded on
  * a continuous stream. At 100 TB/day of events that is the
  * difference between state that fits executor memory and state that
  * pages to disk forever.
  *
  * Production lifecycle: run e33 over yesterday's replay (it is
  * oracle-gated batch SQL — cheap, one pass), store the frame as the
  * day's calibration artifact, start/restart the streaming jobs with
  * [[delayFromAudit]] of that frame. WatermarkCalibrationSpec proves
  * the loop: the calibrated delay keeps 100% of a disorder-injected
  * replay that an uncalibrated tight watermark measurably drops, and
  * is orders of magnitude tighter than the 14-day default.
  */
object WatermarkCalibration {

  /** Turn a lateness-audit frame (e33's shape: one row per transport
    * partition with a `p99_us` column) into a `withWatermark` delay
    * string: max over partitions of the chosen quantile, times a
    * safety `margin`, ceiled to whole seconds (Spark parses
    * "N seconds"). Conservative across partitions by design — the
    * watermark is global, so the laggiest partition sets it. */
  def delayFromAudit(audit: DataFrame, quantileCol: String = "p99_us",
      margin: Double = 1.25): String = {
    require(margin >= 1.0, s"margin must be >= 1, got $margin")
    // cast("long") in the PLAN, not getLong on the row: the quantile
    // column's unit is microseconds but its TYPE is the audit's
    // choice (e33 emits long; a percentile_approx frame emits double)
    // — getLong on a double-typed column is a ClassCastException, not
    // a calibration
    val row = audit.agg(max(col(quantileCol)).cast("long")).head()
    // an empty audit (no events yet) must not NPE into a bogus delay —
    // there is nothing to calibrate from, and silently returning the
    // 1-second floor would under-watermark a real transport
    require(!row.isNullAt(0),
      "lateness audit is empty — cannot calibrate a watermark from it")
    val maxUs = row.getLong(0)
    val secs = math.max(1L, math.ceil(maxUs * margin / 1e6).toLong)
    s"$secs seconds"
  }

  /** Per-PARTITION delay map — for fleets that run ONE STREAMING QUERY
    * PER TRANSPORT PARTITION (a query per Kafka consumer group /
    * source feed, a common isolation shape at 100 TB/day). A Spark
    * watermark is global to its query, so the merged-stream
    * calibration ([[delayFromAudit]]) must take the max over
    * partitions — the laggiest partition then inflates EVERY
    * window's state. A per-partition fleet escapes that: each query
    * gets its own partition's p99 (times `margin`), so a well-behaved
    * partition's state finalizes on its own schedule and only the
    * laggy partition pays for its lag. Keyed by the audit's partition
    * column rendered as a string; same unit contract as
    * [[delayFromAudit]] (µs in, "N seconds" out, floor 1 s). */
  def delaysPerPartition(audit: DataFrame,
      partitionCol: String = "part", quantileCol: String = "p99_us",
      margin: Double = 1.25): Map[String, String] = {
    require(margin >= 1.0, s"margin must be >= 1, got $margin")
    val rows = audit.select(col(partitionCol).cast("string"),
      col(quantileCol).cast("long")).collect()
    require(rows.nonEmpty,
      "lateness audit is empty — cannot calibrate watermarks from it")
    rows.map { r =>
      require(!r.isNullAt(1),
        s"partition ${r.getString(0)}: no quantile to calibrate from")
      val secs = math.max(1L, math.ceil(r.getLong(1) * margin / 1e6).toLong)
      r.getString(0) -> s"$secs seconds"
    }.toMap
  }

  /** The full loop for the library's own events table: replay `dir`'s
    * events through the partitioned-transport disorder model e33
    * audits and return the calibrated delay. This is the DOCUMENTED
    * DEFAULT way to pick the twins' `lateness`/`watermarkDelay`
    * parameters when a lateness audit exists. */
  def calibrate(s: SparkSession, dir: String,
      margin: Double = 1.25): String =
    delayFromAudit(
      graft.queries.EventsQueries.queries("e33_late_audit")(s, dir),
      margin = margin)
}
