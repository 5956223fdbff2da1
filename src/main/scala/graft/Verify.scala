package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // args: sfDir outDir [nameFilter] — the optional comma-separated
    // filter narrows both the run and the oracle dump for fast local
    // iteration with tools/check_oracle.py; the driver passes 2 args.
    // Unknown names throw here, before the session starts.
    val (sfDir, outDir) = (args(0), args(1))
    val selected = SparkEntry.select(args.lift(2))
    val keep = selected.map(_._1).toSet
    // The shared engine session base (GraftSession): the correctness
    // dump now plans under the SAME tuned engine configuration the
    // bench measures — in particular the shuffled-hash-join preference
    // (r18 verdict: a planner conf living only in the bench harness
    // means the benchmark and the oracle run different planners).
    val spark = GraftSession.builder("4").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql.filter(kv => keep(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
