package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Readers for the driver-generated parquet test tables (TESTDATA.md).
  *
  * All readers are plain parquet scans so Catalyst pushes filters and
  * prunes columns into the scan (`PushedFilters` / `ReadSchema`). At
  * cluster scale the same API reads a partitioned table root; nothing
  * here assumes single-file layout.
  */
object Tables {
  /** Epoch-nanos literal for an ISO date/datetime (UTC). The exposed
    * `ts_ns` column is always epoch-nanos regardless of the parquet
    * encoding, so post-read filters on it are portable; for SELECTIVE
    * ranges prefer [[events]] with bounds, which filters the PHYSICAL
    * scan column and therefore pushes to parquet. */
  def nanos(iso: String): Long =
    ldt(iso).toEpochSecond(java.time.ZoneOffset.UTC) * 1000000000L

  private def ldt(iso: String): java.time.LocalDateTime =
    if (iso.length == 10) java.time.LocalDate.parse(iso).atStartOfDay()
    else java.time.LocalDateTime.parse(iso.replace(' ', 'T'))

  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Read one test table. `events` goes through the schema-adaptive
    * reader below. */
  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") events(spark, dir)
    else spark.read.parquet(s"$dir/$name.parquet")

  /** Schema-adaptive events reader with optional `[from, until)` UTC
    * bounds. The driver has written `ts` under three physical
    * encodings across testdata generations — TIMESTAMP(NANOS) (Spark
    * reads as long with `nanosAsLong`), TIMESTAMP(MICROS)
    * isAdjustedToUTC=false (reads as TIMESTAMP_NTZ), and plain
    * UTC-adjusted TIMESTAMP — so branch on the LOADED type and expose
    * one stable schema either way:
    *
    *   - `ts_ns` — epoch-nanos long (what the NANOS generation read
    *     natively; derived losslessly from µs encodings);
    *   - `ts`   — µs-precision TIMESTAMP (LTZ), the exact instant
    *     DuckDB sees as `make_timestamp(epoch_ns(ts)//1000)`.
    *
    * Every derivation is session-timezone-INDEPENDENT: the NTZ branch
    * uses pure local-datetime arithmetic (`timestampdiff` against the
    * epoch, never an NTZ→LTZ cast), so results don't silently depend
    * on `spark.sql.session.timeZone`.
    *
    * Range bounds are applied to the RAW scan column before any
    * derivation, typed to match the physical encoding, so they reach
    * the parquet scan (`PushedFilters: [..., GreaterThanOrEqual(ts,`)
    * — a predicate on the derived `ts_ns` cannot push. At 100 TB the
    * same shape prunes row groups / partitions server-side.
    */
  def events(spark: SparkSession, dir: String,
             from: Option[String] = None,
             until: Option[String] = None): DataFrame = {
    // harmless for µs encodings; required to load the NANOS generation
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = spark.read.parquet(s"$dir/events.parquet")
    val tsType = raw.schema("ts").dataType

    val bound: String => Column = tsType match {
      case LongType         => iso => lit(nanos(iso))
      case TimestampNTZType => iso => lit(ldt(iso))
      case _                => iso => lit(ldt(iso).toInstant(java.time.ZoneOffset.UTC))
    }
    val ranged = (from.map(f => col("ts") >= bound(f)) ++
        until.map(u => col("ts") < bound(u)))
      .foldLeft(raw)((df, p) => df.filter(p))

    val withNs = tsType match {
      case LongType =>
        ranged.withColumnRenamed("ts", "ts_ns")
      case TimestampNTZType =>
        ranged.withColumn("ts_ns", expr(
          "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts) * 1000"))
          .drop("ts")
      case TimestampType =>
        ranged.withColumn("ts_ns", expr("unix_micros(ts) * 1000")).drop("ts")
      case other =>
        throw new IllegalStateException(s"events.ts has unsupported type $other")
    }
    withNs
      .withColumn("ts", expr("timestamp_micros(ts_ns div 1000)"))
      .select(col("event_id"), col("ts_ns"), col("user_id"),
        col("event_type"), col("value"), col("props"), col("ts"))
  }
}
