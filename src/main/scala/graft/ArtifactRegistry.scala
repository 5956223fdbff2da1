package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Bounded, (session, corpus-dir)-keyed registry of train-once
  * artifact bundles (persisted frames: dedup indexes, PQ codebooks,
  * graph edges). Mirrors the production lifecycle — an index is built
  * once per corpus snapshot and read by every query — while bounding
  * residency: at most `maxCorpora` snapshots stay resident per
  * registry; inserting beyond the cap RELEASES the least-recently-
  * used bundle's persisted frames (LRU by last access, not insert).
  * Corpus count is the practical byte proxy here — each bundle's
  * frames are O(one corpus index); a long-lived service rotating
  * snapshots gets bounded cache memory without manual `release`
  * calls, and an unpersisted-but-in-use frame degrades to lazy
  * recompute, never to wrong results.
  *
  * Concurrency: the registry lock covers MAP ACCESS only; each
  * bundle builds under its own cell lock, so different corpus dirs
  * build in parallel while same-key callers build exactly once. Every
  * cell state transition holds the cell lock, so a release/eviction
  * racing an in-flight build WAITS for the build and then unpersists
  * (a @volatile-flag design no-ops in that window and leaks the
  * frames), and a get racing a completed release observes the
  * retired cell and re-resolves a fresh one.
  *
  * Build contract: the registry owns every frame a build caches. A
  * build receives an [[ArtifactRegistry.Build]] handle and caches
  * through `persist(df)` only (MEMORY_AND_DISK, then an eager
  * `count()` so parallel stages never race the cache fill;
  * `persistCounted(df)` also hands that count back); the cell
  * records each such frame. If the build throws, the cell unpersists
  * everything it recorded and rethrows, so a retry starts clean.
  * Retiring the cell (release or eviction) unpersists the recorded
  * frames, including intermediates the bundle does not return. A
  * build that reads another registry's artifact (FoldArtifacts reads
  * DocArtifacts) does so through that registry: the inner frames are
  * recorded in the inner cell and retire with it, never with the
  * outer one.
  *
  * Durable side-artifacts (bucketed tables, serving directories):
  * `onRetire(session, dir)` runs after the frames are unpersisted on
  * EXPLICIT `release` only — the caller of release asserts no query is
  * still reading the bundle. LRU EVICTION deliberately does NOT run
  * `onRetire`: an evicted bundle may still back an in-flight query's
  * frame, and unpersist degrades that frame to lazy recompute from
  * its lineage ROOTS — which are exactly the durable tables/files
  * onRetire would delete. Keeping them preserves the safety property
  * ("degrades to recompute, never to wrong results or read errors");
  * the disk cost is bounded by the corpus dirs a process touches and
  * is reclaimed at JVM exit (artifact names are process-unique — see
  * [[ArtifactRegistry.dirTag]] — and builders register their durable
  * paths with [[ArtifactRegistry.deleteDirOnExit]]). The historical
  * eviction-rebuild race (a rebuild DROPPING and rewriting its
  * durable tables under a reader still draining a pre-eviction
  * frame) is closed for builders that go through
  * [[graft.etl.DurableArtifacts.bucketedTable]]: rebuild ATTACHES to
  * the existing table and never rewrites it.
  *
  * One corpus retires everywhere at once:
  * [[ArtifactRegistry.release]]`(s, dir)` releases that key in every
  * registry (the snapshot-rotation hook of a long-lived service);
  * queries lazily rebuild on next use.
  */
final class ArtifactRegistry[A](
    maxCorpora: Int = ArtifactRegistry.defaultMaxCorpora,
    onRetire: (SparkSession, String) => Unit = (_, _) => ()) {
  require(maxCorpora >= 1, "registry must admit at least one corpus")
  ArtifactRegistry.register(this)

  private final class Cell(s: SparkSession, dir: String,
      build: ArtifactRegistry.Build => A) {
    private var built: Option[A] = None
    private var frames: List[DataFrame] = Nil
    private var retired = false
    /** None ⇒ this cell was released/evicted while we waited. A
      * failed build retires the cell too (after unpersisting what it
      * recorded), so callers waiting on it re-resolve a fresh one. */
    def get(): Option[A] = synchronized {
      if (retired) None
      else Some(built.getOrElse {
        val b = new ArtifactRegistry.Build
        val a = try build(b) catch { case t: Throwable =>
          b.frames.foreach(_.unpersist(blocking = false))
          retired = true
          throw t
        }
        built = Some(a); frames = b.frames; a
      })
    }
    /** `dropDurable = true` (explicit release — caller asserts no
      * in-flight readers) also runs `onRetire`; eviction passes false
      * so an in-flight reader's recompute keeps its durable roots. */
    def retire(dropDurable: Boolean): Unit = synchronized {
      if (built.isDefined) {
        frames.foreach(_.unpersist(blocking = false))
        if (dropDurable) onRetire(s, dir)
      }
      built = None
      frames = Nil
      retired = true
    }
  }

  // LinkedHashMap iteration order = insertion order; re-inserting on
  // every access makes head the least-recently-USED entry.
  private val reg =
    scala.collection.mutable.LinkedHashMap.empty[(SparkSession, String), Cell]

  def apply(s: SparkSession, dir: String)(
      build: ArtifactRegistry.Build => A): A = {
    val key = (s, dir)
    val (cell, evicted) = synchronized {
      val c = reg.remove(key).getOrElse(new Cell(s, dir, build))
      reg.put(key, c) // MRU position — never evicts itself below
      val ev = List.newBuilder[Cell]
      while (reg.size > maxCorpora) {
        val lru = reg.head._1
        ev += reg.remove(lru).get
      }
      (c, ev.result())
    }
    evicted.foreach(_.retire(dropDurable = false)) // outside the map
    // lock: retire may wait for an in-flight build
    // A defunct cell (failed build, or lost the race to a
    // release/eviction) leaves the map; drop ONLY that cell.
    def drop(): Unit =
      synchronized { if (reg.get(key).contains(cell)) reg.remove(key) }
    val got = try cell.get() catch { case t: Throwable => drop(); throw t }
    got match {
      case Some(a) => a
      case None => drop(); apply(s, dir)(build)
    }
  }

  def release(s: SparkSession, dir: String): Unit = {
    val c = synchronized { reg.remove((s, dir)) }
    c.foreach(_.retire(dropDurable = true))
  }

  /** Resident corpus count (for specs/monitoring). */
  def size: Int = synchronized(reg.size)
}

object ArtifactRegistry {
  /** Default residency bound per registry. */
  val defaultMaxCorpora: Int = 4

  /** The handle a build caches through (see the class's build
    * contract). */
  final class Build private[ArtifactRegistry] () {
    private var persisted: List[DataFrame] = Nil
    private[ArtifactRegistry] def frames: List[DataFrame] =
      synchronized(persisted)

    /** Persist `df` MEMORY_AND_DISK, record it in this build's cell,
      * then materialize it with `count()`; returns the cached frame. */
    def persist(df: DataFrame): DataFrame = persistCounted(df)._1

    /** [[persist]], also returning the row count that materialized
      * the frame, so a caller that needs it runs no second count. */
    def persistCounted(df: DataFrame): (DataFrame, Long) = {
      val p = df.persist(StorageLevel.MEMORY_AND_DISK)
      synchronized { persisted ::= p }
      (p, p.count())
    }
  }

  // Every registry, weakly held (a spec's local registry is collected
  // with its spec), so one release reaches them all.
  private val all = java.util.Collections.newSetFromMap(
    new java.util.WeakHashMap[ArtifactRegistry[_], java.lang.Boolean]())
  private def register(r: ArtifactRegistry[_]): Unit =
    all.synchronized { all.add(r); () }

  /** Release corpus `dir` of session `s` in every registry: unpersist
    * its frames and run each registry's `onRetire`. The caller asserts
    * no query is still reading those artifacts. */
  def release(s: SparkSession, dir: String): Unit =
    all.synchronized(all.toArray(Array.empty[ArtifactRegistry[_]]))
      .foreach(_.release(s, dir))

  /** JVM-unique component baked into every durable artifact name so
    * two processes sharing a warehouse/tmp over the SAME corpus dir
    * (e.g. Bench and Verify on one machine) never DROP/rewrite each
    * other's tables or serving files mid-query. The cost is that
    * durable artifacts are process-scoped: a crashed process leaves
    * its dirs behind (normal exit reclaims them via the
    * [[deleteDirOnExit]] hook), and two SparkSessions in ONE JVM still
    * share names — which matches reality, since they share the
    * underlying catalog and warehouse anyway. */
  val processTag: String =
    java.util.UUID.randomUUID().toString.replace("-", "").take(8)

  /** Collision-safe on-disk tag for a corpus dir. `String.hashCode`
    * collides easily (32 bits, trivial constructions), and a collision
    * in a table/directory name silently crossed two corpora's durable
    * artifacts — md5 makes that probability cryptographically nil.
    * The [[processTag]] suffix keeps concurrent JVMs disjoint. */
  def dirTag(dir: String): String = java.security.MessageDigest
    .getInstance("MD5").digest(dir.getBytes("UTF-8"))
    .take(8).map("%02x".format(_)).mkString + "p" + processTag

  /** Best-effort recursive delete of a durable artifact path (a
    * serving directory's `onRetire`, the exit hook). Plain Hadoop FS
    * (no Spark dependency — the session is usually stopped by the
    * time the exit hook runs); failures are ignored, a crashed
    * process leaves its dirs for manual/periodic cleanup. */
  private[graft] def deleteDir(p: String): Unit =
    try {
      val path = new org.apache.hadoop.fs.Path(p)
      path.getFileSystem(new org.apache.hadoop.conf.Configuration())
        .delete(path, true)
      ()
    } catch { case _: Throwable => () }

  // Deletion of process-scoped durable artifacts at JVM exit.
  private val exitPaths = scala.collection.mutable.LinkedHashSet.empty[String]
  private lazy val hookArmed: Boolean = {
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      exitPaths.synchronized(exitPaths.toSeq).foreach(deleteDir)))
    true
  }

  /** Register a durable artifact path (managed-table location, serving
    * directory) for best-effort recursive deletion at JVM exit —
    * artifact names are process-unique (see [[dirTag]]), so nothing
    * else can be reading them once this process ends. */
  def deleteDirOnExit(path: String): Unit = {
    hookArmed
    exitPaths.synchronized { exitPaths += path }
    ()
  }
}
