package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries.{BuildQueries, DedupQueries, EventsQueries, GraphQueries, LifecycleQueries, MediaQueries, MoreRelationalQueries, RelationalQueries, SimilarityQueries, TextQueries}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * All queries live in [[QueryPack]]s (one per capability area); this
  * object concatenates them. Every key in [[queries]] with an entry in
  * [[oracleSql]] is hash-checked against DuckDB by the driver.
  */
object SparkEntry {
  private val packs: Seq[QueryPack] = Seq(
    RelationalQueries, MoreRelationalQueries, EventsQueries, TextQueries,
    DedupQueries, SimilarityQueries, MediaQueries, LifecycleQueries,
    GraphQueries, BuildQueries)

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks
    * rows>0. The agent scoreboard (SURVEY §7 step 2): groupBy counts
    * joined to a broadcast goal dim with pace/color buckets — the
    * analytical core the reference delegates to DAX. */
  def entry(spark: SparkSession): DataFrame =
    EventsQueries.queries("e1_scoreboard")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    packs.flatMap(_.queries).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    packs.flatMap(_.oracle).toMap

  /** The queries a comma-separated name filter picks, sorted by name;
    * every query when there is no filter. A name that matches no query
    * throws (all such names listed), so a typo fails the run before
    * any session starts instead of measuring or verifying nothing. */
  def select(filter: Option[String])
      : Seq[(String, (SparkSession, String) => DataFrame)] = {
    val all = queries
    val names = filter.fold(all.keySet)(_.split(',').toSet)
    val unknown = names -- all.keySet
    require(unknown.isEmpty,
      unknown.toSeq.sorted.map("\"" + _ + "\"")
        .mkString("unknown query names: ", ", ", ""))
    names.toSeq.sorted.map(n => n -> all(n))
  }
}
