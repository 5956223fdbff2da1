package graft.streaming

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Durable per-key version high-water ledger for [[StreamingCdc]] —
  * the opt-in that closes the operator's one documented semantic
  * hole: state TTL expiry drops a key's (version, live) marker, so a
  * later STALE redelivery (version older than anything the key ever
  * accepted) re-seeds the row and is emitted as if it were news.
  * `retainVersionOnExpiry` shrinks state to a few-bytes residue
  * instead of dropping it, but the residue still lives in the state
  * store — a checkpoint reset, a state-store retention sweep, or a
  * topic re-bootstrap loses it. Consumers that need last-writer-wins
  * monotonicity ACROSS those horizons persist a high-water mark
  * OUTSIDE the state store, beside the table they serve — this
  * object is that ledger, maintained at micro-batch boundaries.
  *
  * Contract: [[applyWithHighWater]] runs inside `foreachBatch`. Each
  * batch of [[StreamingCdc.Update]] rows is filtered against the
  * ledger (a key's update survives only if `version` exceeds the
  * ledger's recorded high-water), the survivors go to the caller's
  * apply function, and the ledger advances to include them — so even
  * a key whose streaming state expired arbitrarily long ago swallows
  * pre-expiry versions forever. Idempotent under foreachBatch's
  * at-least-once replay: a replayed batch re-filters against a
  * ledger that already absorbed it, so survivors are re-applied
  * (the sink contract is last-writer-wins upsert, where replay is
  * harmless) and the ledger max is unchanged.
  *
  * Scale: the ledger is one (key, version) row per key ever seen —
  * the compact shape a real CDC consumer keeps in its store's
  * metadata column family. Reads are a broadcast-or-shuffle join of
  * batch-sized updates against it; the rewrite is a keyed max-merge.
  * At 100 TB key cardinality the same contract runs against a
  * bucketed table or key-value store; the parquet
  * directory-swap here is the single-writer local form (one CDC
  * stream owns one ledger dir — Structured Streaming guarantees
  * non-overlapping micro-batches within a query).
  */
object CdcHighWater {

  /** Read the ledger (empty two-column frame if absent). */
  def read(spark: SparkSession, dir: String): DataFrame = {
    val cur = new java.io.File(dir, "current")
    if (cur.isDirectory) Tables.parquet(spark, cur.toString)
    else spark.range(0).select(col("id").as("key"),
      col("id").as("hw_version"))
  }

  /** Suppress post-expiry stale re-seeds, apply the survivors, then
    * advance the ledger — the `foreachBatch` body for a monotone CDC
    * sink. `updates` must carry `key` and `version` columns
    * ([[StreamingCdc.Update]]'s shape). */
  def applyWithHighWater(updates: DataFrame, dir: String)(
      apply: DataFrame => Unit): Unit = {
    val spark = updates.sparkSession
    val hw = read(spark, dir)
    // survivors must MATERIALIZE before the ledger rewrite below:
    // their plan reads the ledger files the rewrite replaces
    val fresh = updates.join(hw,
        updates("key") === hw("key") &&
          updates("version") <= hw("hw_version"), "left_anti")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    fresh.count()
    try {
      apply(fresh)
      val merged = hw
        .unionByName(fresh.select(col("key"),
          col("version").as("hw_version")))
        .groupBy(col("key")).agg(max(col("hw_version")).as("hw_version"))
      write(merged, dir)
    } finally { fresh.unpersist(blocking = false); () }
  }

  /** Atomic ledger replace: write to a fresh generation directory,
    * then swap the `current` symlink-equivalent (a rename) — a reader
    * that raced the swap still sees a complete older generation, and
    * a crash mid-write leaves `current` untouched. */
  private def write(merged: DataFrame, dir: String): Unit = {
    val root = new java.io.File(dir)
    root.mkdirs()
    val gen = new java.io.File(root, s"gen-${System.nanoTime()}")
    merged.write.mode("overwrite").parquet(gen.toString)
    val cur = new java.io.File(root, "current")
    val old = new java.io.File(root, s"old-${System.nanoTime()}")
    if (cur.exists()) { cur.renameTo(old); () }
    gen.renameTo(cur)
    delete(old)
  }

  private def delete(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(delete))
    f.delete()
    ()
  }
}
