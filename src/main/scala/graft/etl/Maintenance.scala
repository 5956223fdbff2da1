package graft.etl

import graft.Tables
import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** The combined storage-lifecycle job (SURVEY §2.8's K4 control plane
  * at production shape): ONE idempotent entry point that, per run,
  *
  *  1. bin-packs fragmented serving partitions
  *     ([[CorpusLayout.compactPartitioned]] — selective, sized by the
  *     fragmented tail);
  *  2. vacuums expired SCD2 history ([[Scd2.vacuum]]) IN PLACE with a
  *     crash-recoverable clear-and-replace swap (the reference's K4
  *     dim sync is exactly this shape: stage the replacement, then
  *     swap — `tools/dimagent-sync` clears and repushes because its
  *     sink can't update);
  *  3. drops retired durable artifacts (lapsed serving copies, old
  *     snapshot trees) by path.
  *
  * Idempotent: every step starts with its own crash recovery, a
  * re-run after success is a no-op (already-compact partitions are
  * skipped, a vacuumed table loses no further rows, missing artifact
  * paths are ignored), and a re-run after ANY crash point converges
  * to the same final state (MaintenanceSpec drives each window).
  *
  * The SCD2 swap protocol (directory-level twin of the compaction's
  * per-partition one — the marker is the durability point):
  *
  *  - stage the vacuumed table at `P.vacuum-staging` (no marker);
  *  - fsync the staged data files ([[CorpusLayout.syncStagedTree]] —
  *    the marker must never be durable ahead of the data it commits);
  *  - create + hsync `_COMMIT` inside staging;
  *  - rename `P` → `P.vacuum-orig`; rename staging → `P`;
  *  - delete the marker (it traveled into `P`) and the orig tree.
  *
  * Crash before the marker → roll BACK (staging deleted, `P`
  * untouched). Crash after → roll FORWARD (remaining renames finish;
  * `P` is readable at every intermediate state because parquet
  * readers ignore `_`-prefixed files).
  *
  * ISOLATION (round 16): every per-tree step runs under the
  * exclusive writer lease ([[MaintenanceLease.withLease]] on the
  * tree's path) — two concurrent runs on one tree serialize (the
  * second sees an already-maintained tree and no-ops), a run racing
  * a foreign process fails fast on the live lease file, and a
  * streaming sink that wraps its appends in the same lease can never
  * land a micro-batch inside a half-swapped directory.
  */
object Maintenance {

  final case class ServingTree(path: String, partitionCols: Seq[String],
      sortCols: Seq[String], maxRecordsPerFile: Int,
      minFilesToCompact: Int = 2)

  /** An SCD2 dim table at `path` whose closed versions expire before
    * `horizonTs` (a `yyyy-MM-dd HH:mm:ss` literal). */
  final case class Scd2Table(path: String, horizonTs: String)

  final case class Scd2Report(path: String, rowsBefore: Long, rowsAfter: Long)

  final case class Report(
      compaction: Seq[(String, CorpusLayout.CompactionReport)],
      scd2: Seq[Scd2Report],
      artifactsDropped: Seq[String],
      /** Trees skipped because a FOREIGN process held their lease —
        * maintained trees' reports above are still complete; the
        * scheduler retries only these paths. */
      skippedHeld: Seq[String] = Nil)

  /** The one entry point. Order matters for cost, not correctness:
    * artifact drops first (free space before the rewrites), then
    * vacuums (dim-sized), then compaction (corpus-sized tail).
    *
    * A tree whose lease a foreign process holds is SKIPPED, not
    * fatal: one contended path must not starve maintenance of every
    * other path (and lose the already-maintained trees' reports) —
    * the skipped paths surface in [[Report.skippedHeld]] so the
    * scheduler retries exactly those. */
  def run(s: SparkSession,
      serving: Seq[ServingTree] = Nil,
      dims: Seq[Scd2Table] = Nil,
      retiredArtifacts: Seq[String] = Nil): Report = {
    val skipped = scala.collection.mutable.ArrayBuffer.empty[String]
    def leased[T](path: String)(body: MaintenanceLease.Fence => T)
        : Option[T] =
      try Some(MaintenanceLease.withLeaseFenced(s, path)(body))
      catch {
        case _: MaintenanceLease.HeldException =>
          skipped += path; None
      }
    val dropped = retiredArtifacts.filter(dropPath(s, _))
    val scd = dims.flatMap(d =>
      leased(d.path)(fence => vacuumInPlace(s, d, Some(fence))))
    val comp = serving.flatMap(t =>
      leased(t.path)(fence => t.path -> CorpusLayout.compactPartitioned(
        s, t.path, t.partitionCols, t.sortCols, t.maxRecordsPerFile,
        t.minFilesToCompact, Some(fence))))
    Report(comp, scd, dropped, skipped.toSeq)
  }

  private def fsOf(s: SparkSession, p: HPath): FileSystem =
    p.getFileSystem(s.sparkContext.hadoopConfiguration)

  /** true iff the path existed and was deleted. */
  private def dropPath(s: SparkSession, path: String): Boolean = {
    val p = new HPath(path)
    val fs = fsOf(s, p)
    fs.exists(p) && fs.delete(p, true)
  }

  /** Crash-recoverable in-place vacuum of a parquet-backed SCD2 dim.
    * `fence` (when run under [[MaintenanceLease.withLeaseFenced]]) is
    * re-checked before the commit marker and before EACH rename: a
    * holder that outlived its TTL aborts here instead of renaming
    * into a tree the new lease holder now owns (the abandoned state
    * is one of [[recoverInterruptedVacuum]]'s crash windows, which
    * the new holder's own recovery pass already converged or will). */
  def vacuumInPlace(s: SparkSession, d: Scd2Table,
      fence: Option[MaintenanceLease.Fence] = None): Scd2Report = {
    val p = new HPath(d.path)
    val staging = new HPath(d.path + ".vacuum-staging")
    val orig = new HPath(d.path + ".vacuum-orig")
    val fs = fsOf(s, p)
    recoverInterruptedVacuum(fs, p, staging, orig)
    require(fs.exists(p), s"SCD2 table missing: ${d.path}")
    val before = Tables.parquet(s, d.path).count()
    val kept = Scd2.vacuum(Tables.parquet(s, d.path),
      to_timestamp(lit(d.horizonTs)))
    kept.write.mode("overwrite").parquet(staging.toString)
    // staged data durable BEFORE the marker: the hsync'd marker
    // licenses roll-forward onto these very bytes, so their
    // persistence must be ordered ahead of it (local FS: explicit
    // per-file fsync; HDFS: close() already pipelines to datanodes)
    CorpusLayout.syncStagedTree(fs, staging)
    // the ONE fencing point, strictly BEFORE the marker: the hsync'd
    // marker is the commit — after it the swap MUST roll forward (the
    // recovery contract), so a post-marker abort would only manufacture
    // committed-but-unapplied states (and an abort between the two
    // renames leaves ¬P, which a concurrent writer could re-create
    // into the unrecoverable S∧M∧P∧O). A TTL-expired holder therefore
    // aborts while roll-BACK is still the recovery outcome; past the
    // marker it finishes the two renames it already committed to.
    fence.foreach(_.check())
    val marker = new HPath(staging, "_COMMIT")
    val out = fs.create(marker, false)
    try out.hsync() finally out.close()
    renameOrThrow(fs, p, orig)
    renameOrThrow(fs, staging, p)
    fs.delete(new HPath(p, "_COMMIT"), false)
    fs.delete(orig, true)
    Scd2Report(d.path, before, Tables.parquet(s, d.path).count())
  }

  /** Converges any crash point of [[vacuumInPlace]]'s swap. Decision
    * table over (staging S, marker M in S, table P, orig O):
    *  - S ∧ ¬M            → roll back: delete S (P untouched);
    *  - S ∧ M ∧ corrupt S → roll back: the marker outlived its data
    *    (a power-crash window only reachable on filesystems outside
    *    [[CorpusLayout.syncStagedTree]]'s guarantee) — delete S and,
    *    if P already moved aside, restore O → P;
    *  - S ∧ M ∧ P         → roll forward from the P→O rename;
    *  - S ∧ M ∧ ¬P        → roll forward from the S→P rename;
    *  - ¬S, then any leftover marker inside P or leftover O tree is
    *    the tail of a completed swap → delete both.
    * Roll-forward VALIDATES staging first (parquet footer probe,
    * [[CorpusLayout.parquetLeafReadable]]): because this swap is
    * directory-level, no staged file has reached P before the S→P
    * rename, so a failed probe can still roll back without mixing
    * staged and original files. */
  private[etl] def recoverInterruptedVacuum(fs: FileSystem,
      p: HPath, staging: HPath, orig: HPath): Unit = {
    val markerS = new HPath(staging, "_COMMIT")
    if (fs.exists(staging)) {
      if (!fs.exists(markerS)) fs.delete(staging, true)
      else if (!CorpusLayout.parquetLeafReadable(fs, staging)) {
        // restore BEFORE discarding: if the restore (or a crash between
        // the two steps) left ¬S∧¬P∧O, the tail below would read the
        // orig tree as a completed swap's leftover and delete the only
        // copy — the rename must land first, the corrupt staging dies
        // second
        if (!fs.exists(p)) {
          require(fs.exists(orig),
            s"vacuum recovery: staging corrupt and no table/orig: $p")
          renameOrThrow(fs, orig, p)
        }
        fs.delete(staging, true)
      } else {
        if (fs.exists(p)) {
          require(!fs.exists(orig),
            s"vacuum recovery found staging+table+orig all present: $p")
          renameOrThrow(fs, p, orig)
        }
        renameOrThrow(fs, staging, p)
      }
    }
    val markerP = new HPath(p, "_COMMIT")
    if (fs.exists(markerP)) fs.delete(markerP, false)
    // an orig tree is a completed swap's leftover ONLY while the table
    // itself exists; ¬P∧O means orig holds the sole surviving copy
    // (e.g. a crash mid-restore above) — put it back, never delete it
    if (fs.exists(orig)) {
      if (!fs.exists(p)) renameOrThrow(fs, orig, p)
      else fs.delete(orig, true)
    }
  }

  private def renameOrThrow(fs: FileSystem, src: HPath, dst: HPath): Unit =
    if (!fs.rename(src, dst))
      throw new java.io.IOException(s"rename failed: $src -> $dst")
}
