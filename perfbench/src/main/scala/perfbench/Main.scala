package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import graft.GraftSession

/** What one workload run hands back to the entry point. `endToEnd` and
  * `layers` hold (name, value, unit); `report` holds extra JSON fields
  * (the workload's own metric names, sizes, check details). */
final case class Outcome(
    attempted: Long, failed: Long, checks: Seq[(String, Boolean)],
    endToEnd: Seq[(String, Double, String)],
    layers: Seq[(String, Double, String)],
    report: Seq[(String, String)])

final case class Args(workload: String, seed: Long, seconds: Int,
    trace: Boolean, work: Path, corpus: Option[String], queries: Seq[String])

/** Benchmark JVM: runs one workload against the engine's public API on
  * a session from `GraftSession.builder`, sized to the machine, and
  * prints one `PERFBENCH {json}` line. perfbench/run.py drives it. */
object Main {
  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toInt,
      m.getOrElse("trace", "0") == "1", Paths.get(m("work")),
      m.get("corpus"), m.get("queries").toSeq.flatMap(_.split(',')).filter(_.nonEmpty))
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val cpus = Runtime.getRuntime.availableProcessors()
    val spark = GraftSession.builder(cpus.toString).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    if (args.trace) Probe.install(spark)
    val t0 = Probe.nowNs()
    val out = args.workload match {
      case "webhook_live" => Webhook.run(spark, args)
      case "dashboard_surface" => Surface.run(spark, args)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val spans = Probe.spans.asScala.toVector
    if (args.trace) Files.write(args.work.resolve("spans.jsonl"),
      Probe.spanLines(spans, t0).mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    val layers = if (!args.trace) Nil else out.layers ++ Seq(
      ("jvm.session_s", sessionS, "s"),
      ("spark.misattributed_jobs", Probe.misattributed.toDouble, "count"),
      ("trace.spans", spans.size.toDouble, "count"))
    val env = Seq(
      "nproc" -> cpus.toString,
      "jvm" -> Json.str(System.getProperty("java.vm.name") + " " + System.getProperty("java.version")),
      "spark" -> Json.str(spark.version),
      "seed" -> args.seed.toString,
      "seconds" -> args.seconds.toString,
      "trace" -> (if (args.trace) "1" else "0"))
    val json =
      s"""{"workload":${Json.str(args.workload)},"attempted":${out.attempted},""" +
        s""""failed":${out.failed},""" +
        s""""checks":${out.checks.map { case (k, v) => s"${Json.str(k)}:$v" }.mkString("{", ",", "}")},""" +
        s""""end_to_end":${Json.metrics(out.endToEnd)},""" +
        s""""per_layer":${Json.metrics(layers)},""" +
        s""""env":${env.map { case (k, v) => s"${Json.str(k)}:$v" }.mkString("{", ",", "}")},""" +
        s""""report":${out.report.map { case (k, v) => s"${Json.str(k)}:$v" }.mkString("{", ",", "}")}}"""
    spark.stop()
    println("PERFBENCH " + json)
  }
}
