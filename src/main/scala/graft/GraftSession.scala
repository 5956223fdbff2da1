package graft

import org.apache.spark.sql.SparkSession

import graft.streaming.LocalCheckpointFileManager

/** The ENGINE's shared local-session base — one place for the tuned
  * defaults every harness main (Bench, Verify, TimeOne, the AB
  * harnesses, StreamBench, Soak, PlanDump, PhaseProbe) runs with, so
  * the benchmark, the correctness path and dev measurement all plan
  * queries under the SAME engine configuration (r18 verdict: a planner
  * preference that lives only in the bench harness makes the benchmark
  * and the oracle run different planners).
  *
  * Tuned defaults and why (env-overridable unless noted):
  *  - `spark.shuffle.sort.bypassMergeThreshold=8` + tmpfs
  *    `spark.local.dir`: the bypass-merge shuffle writer creates R
  *    files per map task and this VM's file-create path turns
  *    multi-stage queries erratically 3-15x slower (measured via
  *    executor jstack sampling; see Bench's scaladoc history).
  *  - `spark.sql.adaptive.enabled=true` (`SPARK_GRAFT_AQE`): AQE
  *    coalescing / skew-split / runtime join demotion are
  *    non-negotiable at 100 TB; the measured local -7% orchestration
  *    cost is a sandbox artifact (OPTIMIZATION_r18.md, rejected).
  *  - `spark.sql.join.preferSortMergeJoin=false`
  *    (`SPARK_GRAFT_PREFER_SMJ`): let the planner pick shuffled-hash
  *    when its size conditions hold — drops the sort on both sides of
  *    index-scale equi-joins (guide §3.1/§9 baseline; interleaved A/B
  *    net -3.7% over the 32-query subset in r18). Scale-safe: AQE skew
  *    split still applies to SHJ and the per-partition build side
  *    shrinks as partition count grows with the data.
  *  - `spark.sql.streaming.checkpointFileManagerClass` =
  *    [[graft.streaming.LocalCheckpointFileManager]] (constant, not
  *    env-overridable): without the native Hadoop library, Spark's
  *    local checkpoint writes shell out to `chmod` and `readlink` for
  *    every file. A webhook micro-batch writes seven (offsets, commit,
  *    state deltas): 298 ms of state commit and 34 ms of offset log
  *    per batch on a 4-vCPU VM, against 8 ms and 1 ms through
  *    java.nio (SCALING.md, "Webhook micro-batch fixed cost").
  *    Non-local schemes keep Spark's own path.
  *
  * Master is `local[$SPARK_GRAFT_CPUS]` with shuffle partitions = the
  * core count (the driver contract: it re-runs the bench at a lower
  * core count to measure scaling, so the master must follow the env).
  */
object GraftSession {

  /** Resolved core count: `$SPARK_GRAFT_CPUS`, else the caller's
    * default (Bench/dev harnesses default 32; Verify keeps its
    * historical 4 — correctness runs don't need width). */
  def cpus(default: String): String =
    sys.env.getOrElse("SPARK_GRAFT_CPUS", default)

  /** The checkpoint file manager every engine session streams with. */
  val checkpointManagerConf: (String, String) =
    "spark.sql.streaming.checkpointFileManagerClass" ->
      classOf[LocalCheckpointFileManager].getName

  /** The shared builder. Callers append main-specific confs (e.g.
    * StreamBench's RocksDB state store) before `getOrCreate()`. */
  def builder(defaultCpus: String = "32"): SparkSession.Builder = {
    val c = cpus(defaultCpus)
    SparkSession.builder()
      .master(s"local[$c]")
      .config("spark.sql.shuffle.partitions", c)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.shuffle.sort.bypassMergeThreshold", "8")
      .config("spark.local.dir", "/dev/shm/graft-shuffle")
      .config("spark.sql.adaptive.enabled",
        sys.env.getOrElse("SPARK_GRAFT_AQE", "true"))
      .config("spark.sql.join.preferSortMergeJoin",
        sys.env.getOrElse("SPARK_GRAFT_PREFER_SMJ", "false"))
      .config(checkpointManagerConf._1, checkpointManagerConf._2)
  }
}
