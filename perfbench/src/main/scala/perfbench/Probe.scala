package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** One timed call into a layer, seen from outside the engine. */
final case class Span(name: String, layer: String, parent: String,
    reqId: String, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Wall-clock bookkeeping of one Spark job, filled by [[Probe]]. */
final class JobRec(val startNs: Long, val windowLayer: String,
    val tagLayer: String, val streaming: Boolean) {
  @volatile var endNs: Long = -1L
  var stages = 0
  var tasks = 0L
  var taskMs = 0L
  var gcMs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var maxTaskMs = 0L
  def layer: String = if (streaming) "stream" else windowLayer
}

/** Spans, counters and the job ledger of a traced run. Everything is
  * kept in memory and summarized when the workload ends.
  *
  * Job attribution: a job belongs to the layer call in flight when it
  * starts (the benchmark calls one layer at a time), or to `stream`
  * when it carries a streaming query id. Each call also sets a job tag
  * `perfbench:<layer>` on the calling thread; a job whose tag names
  * another layer (or none) is counted as misattributed. Jobs submitted
  * from pool threads inherit the local properties of the thread that
  * created the pool thread, so a stale tag shows up there. */
object Probe extends SparkListener {
  @volatile var enabled = false
  @volatile private var inFlight: String = ""

  val spans = new ConcurrentLinkedQueue[Span]()
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageToJob = mutable.HashMap.empty[Int, Int]

  private val TagPrefix = "perfbench:"

  def install(spark: SparkSession): Unit =
    spark.sparkContext.addSparkListener(this)

  /** Epoch time in ns (µs resolution), shared with the recording sink
    * and the relay's receivedAt, so spans from all sides line up. */
  def nowNs(): Long = Recorder.nowMicros() * 1000L

  /** Time `body` as a call into `layer`. Untraced runs pay one branch. */
  def span[T](spark: SparkSession, name: String, layer: String,
      reqId: String, parent: String = "")(body: => T): T = {
    if (!enabled) return body
    // the innermost call owns the thread's tag while it runs
    val sc = spark.sparkContext
    val prev = inFlight
    if (prev.nonEmpty) sc.removeJobTag(TagPrefix + prev)
    inFlight = layer
    sc.addJobTag(TagPrefix + layer)
    val t0 = nowNs()
    try body
    finally {
      val t1 = nowNs()
      sc.removeJobTag(TagPrefix + layer)
      inFlight = prev
      if (prev.nonEmpty) sc.addJobTag(TagPrefix + prev)
      spans.add(Span(name, layer, parent, reqId, t0, t1))
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = if (enabled) {
    val props = Option(e.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
    val tag = prop("spark.job.tags").toSeq
      .flatMap(_.split(',')).find(_.startsWith(TagPrefix))
      .map(_.stripPrefix(TagPrefix)).getOrElse("")
    val rec = new JobRec(nowNs(), inFlight, tag,
      prop("sql.streaming.queryId").isDefined)
    rec.stages = e.stageIds.size
    jobs.synchronized {
      jobs(e.jobId) = rec
      e.stageIds.foreach(s => stageToJob(s) = e.jobId)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = if (enabled)
    jobs.synchronized(jobs.get(e.jobId)).foreach(_.endNs = nowNs())

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (enabled) {
    val m = e.taskMetrics
    jobs.synchronized {
      for (jid <- stageToJob.get(e.stageId); j <- jobs.get(jid)) {
        j.tasks += 1
        if (m != null) {
          j.taskMs += m.executorRunTime
          j.gcMs += m.jvmGCTime
          j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        }
        j.maxTaskMs = math.max(j.maxTaskMs, e.taskInfo.duration)
      }
    }
  }

  def jobRecs: Seq[JobRec] = jobs.synchronized(jobs.values.toVector)

  /** Jobs whose tag disagrees with the call they ran in. Streaming
    * jobs run on the stream's own thread and carry no tag. */
  def misattributed: Int =
    jobRecs.count(j => !j.streaming && j.tagLayer != j.windowLayer)

  /** The nine listener counters of one layer, per call: jobs, stages,
    * tasks, task time, GC time, shuffle write, spill, longest task,
    * and driver idle time (wall time inside the calls with no job of
    * that layer running). */
  def layerCounters(layer: String, calls: Int,
      layerSpans: Seq[Span]): Seq[(String, Double, String)] = {
    val js = jobRecs.filter(_.layer == layer)
    val n = math.max(1, calls).toDouble
    val idle = layerSpans.map { s =>
      val ivs = js.filter(j => j.startNs < s.endNs && j.endNs > s.startNs)
        .map(j => (math.max(j.startNs, s.startNs), math.min(j.endNs, s.endNs)))
      (s.endNs - s.startNs) - Stats.unionLength(ivs)
    }.sum / 1e9
    Seq(
      (s"$layer.jobs", js.size / n, "count"),
      (s"$layer.stages", js.map(_.stages).sum / n, "count"),
      (s"$layer.tasks", js.map(_.tasks).sum / n, "count"),
      (s"$layer.task_s", js.map(_.taskMs).sum / 1e3 / n, "s"),
      (s"$layer.gc_s", js.map(_.gcMs).sum / 1e3 / n, "s"),
      (s"$layer.shuffle_bytes", js.map(_.shuffleBytes).sum / n, "bytes"),
      (s"$layer.spill_bytes", js.map(_.spillBytes).sum / n, "bytes"),
      (s"$layer.max_task_s", (0L +: js.map(_.maxTaskMs)).max / 1e3, "s"),
      (s"$layer.driver_idle_s", idle / n, "s"))
  }

  /** Self time of each span: its duration minus the part of it that
    * child spans (same request, parent = this span's name) cover. */
  def selfSeconds(all: Seq[Span]): Map[Span, Double] = {
    val byReq = all.groupBy(_.reqId)
    all.map { s =>
      val kids = byReq.getOrElse(s.reqId, Nil).filter(_.parent == s.name)
        .map(k => (math.max(k.startNs, s.startNs), math.min(k.endNs, s.endNs)))
      s -> ((s.endNs - s.startNs) - Stats.unionLength(kids)) / 1e9
    }.toMap
  }

  /** Spans as JSON lines, for the trace file. */
  def spanLines(all: Seq[Span], t0: Long): Seq[String] = {
    val self = selfSeconds(all)
    all.map { s =>
      s"""{"name":${Json.str(s.name)},"layer":${Json.str(s.layer)},""" +
        s""""parent":${Json.str(s.parent)},"req":${Json.str(s.reqId)},""" +
        f""""start_s":${(s.startNs - t0) / 1e9}%.6f,"end_s":${(s.endNs - t0) / 1e9}%.6f,""" +
        f""""self_s":${self(s)}%.6f}"""
    }
  }
}

object Stats {
  /** Linear-interpolated percentile (numpy's default), exact over the
    * whole bounded sample. */
  def pct(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    val s = xs.sorted
    val r = p / 100.0 * (s.size - 1)
    val lo = math.floor(r).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (r - lo)
  }

  def median(xs: Seq[Double]): Double = pct(xs, 50)

  /** Total length of the union of [start, end) intervals. */
  def unionLength(ivs: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    ivs.filter(iv => iv._2 > iv._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Peak resident set of this JVM, in MB (Linux `VmHWM`). */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString

  /** Metrics map: name -> (value, unit). */
  def metrics(ms: Seq[(String, Double, String)]): String =
    ms.map { case (k, v, u) => s"${str(k)}:{\"value\":${num(v)},\"unit\":${str(u)}}" }
      .mkString("{", ",", "}")
}
