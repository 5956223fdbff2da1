package graft.etl

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{HigherOrderFunction, JsonToStructs}
import org.apache.spark.sql.execution.{FilterExec, InputAdapter, ProjectExec, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions.{col, timestamp_micros, upper}

import graft.SparkSpec

/** Adapter behaviors from FIXTURES.md §1 / SURVEY §2.2-2.3 — every
  * edge case the reference's code paths encode. */
class AdapterSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  private val recv = "2025-11-05T17:30:00Z"

  private def env(body: String, source: String = "ALOWARE"): DataFrame =
    Seq((source, body, Timestamp.from(java.time.Instant.parse(recv))))
      .toDF("source", "body", "receivedAt")
      .selectExpr("source", "map('x','y') AS headers", "body", "receivedAt")

  private val canonical =
    """{"parsedBody":{"event":"outbound_call","body":{
      |"id":719285063,"uuid_v4":"c0ffee00-1111-2222-3333-444455556666",
      |"direction":2,"type":1,"created_at":"2025-11-05 17:21:33",
      |"owner_id":12345,"user_id":12345,
      |"contact":{"timezone":"America/New_York"}}}}""".stripMargin.replace("\n", "")

  test("canonical outbound call normalizes to the FIXTURES.md row") {
    val out = Adapters.aloware(env(canonical)).collect()
    out.length shouldBe 1
    val r = out.head
    r.getAs[String]("eventId") shouldBe "ALOWARE:719285063"
    r.getAs[String]("agentId") shouldBe "12345"
    r.getAs[java.sql.Date]("factDateKey").toString shouldBe "2025-11-05"
    r.getAs[String]("metricId") shouldBe "CALLS"
    r.getAs[String]("notes") shouldBe "event=outbound_call;tz=America/New_York"
    r.getAs[String]("dedupKey") shouldBe "ALOWARE:ALOWARE:719285063"
  }

  test("delivery-id header is the id fallback and lands in notes (provenance)") {
    val noIds = // payload with neither id nor uuid_v4
      """{"event":"outbound_call","direction":2,"created_at":"2025-11-05 10:00:00","owner_id":9}"""
    def envWith(hdrs: String, at: String): DataFrame =
      Seq(("ALOWARE", noIds, Timestamp.from(java.time.Instant.parse(at))))
        .toDF("source", "body", "receivedAt")
        .selectExpr("source", s"$hdrs AS headers", "body", "receivedAt")

    // two redeliveries of the same webhook: same delivery id, later
    // receivedAt — the header keeps eventId (hence dedupKey) stable
    val first = Adapters.aloware(
      envWith("map('x-delivery-id','dlv-42')", recv)).collect().head
    val retry = Adapters.aloware(
      envWith("map('X-Delivery-Id','dlv-42')", "2025-11-05T17:31:00Z")).collect().head
    first.getAs[String]("eventId") shouldBe "ALOWARE:dlv-42"
    retry.getAs[String]("eventId") shouldBe "ALOWARE:dlv-42"
    retry.getAs[String]("dedupKey") shouldBe first.getAs[String]("dedupKey")
    first.getAs[String]("notes") should include("delivery=dlv-42")

    // header names are case-insensitive per HTTP: a SHOUTING gateway
    // (or any casing the map() literal didn't anticipate) must still
    // resolve to the same delivery id, not fall through to receivedAt
    val shouting = Adapters.aloware(
      envWith("map('X-DELIVERY-ID','dlv-42')", "2025-11-05T17:32:00Z")).collect().head
    shouting.getAs[String]("eventId") shouldBe "ALOWARE:dlv-42"
    val requestId = Adapters.aloware(
      envWith("map('X-Request-ID','req-7')", recv)).collect().head
    requestId.getAs[String]("eventId") shouldBe "ALOWARE:req-7"

    // no header: falls back to receive time (old behavior)
    val bare = Adapters.aloware(
      envWith("map()", recv)).collect().head
    bare.getAs[String]("eventId") shouldBe
      s"ALOWARE:${java.time.Instant.parse(recv).toEpochMilli}"
    bare.getAs[String]("notes") should not include "delivery="
  }

  test("{event, body} and bare payload shapes normalize identically") {
    val wrapped =
      """{"event":"outbound_text","body":{"id":7,"created_at":"2025-11-05 10:00:00","owner_id":1}}"""
    val bare =
      """{"event":"outbound_text","id":7,"created_at":"2025-11-05 10:00:00","owner_id":1}"""
    val a = Adapters.aloware(env(wrapped)).select("eventId", "agentId", "metricId").collect()
    val b = Adapters.aloware(env(bare)).select("eventId", "agentId", "metricId").collect()
    a should contain theSameElementsAs b
    a.head.getAs[String]("metricId") shouldBe "TEXTS"
  }

  test("inbound events are dropped (F1 name wins over direction)") {
    val inbound = """{"event":"inbound_call","body":{"id":1,"direction":2,"type":1}}"""
    Adapters.aloware(env(inbound)).count() shouldBe 0
  }

  test("direction fallback: 2=outbound passes, 1=inbound drops, absent drops") {
    def mk(d: String) = s"""{"event":"call_made","body":{"id":1,$d"type":1}}"""
    Adapters.aloware(env(mk(""""direction":2,"""))).count() shouldBe 1
    Adapters.aloware(env(mk(""""direction":1,"""))).count() shouldBe 0
    Adapters.aloware(env(mk(""))).count() shouldBe 0
  }

  test("unknown metric (no call/text name, no type) drops the row") {
    val unknown = """{"event":"outbound_meeting","body":{"id":9,"direction":2}}"""
    Adapters.aloware(env(unknown)).count() shouldBe 0
  }

  test("type fallback classifies when name is metric-ambiguous") {
    val t2 = """{"event":"outbound_message","body":{"id":3,"type":2}}"""
    Adapters.aloware(env(t2)).select("metricId").as[String].head() shouldBe "TEXTS"
  }

  test("missing owner_id falls back to user_id, then to unknown with a note") {
    val u = """{"event":"outbound_call","body":{"id":4,"user_id":77}}"""
    Adapters.aloware(env(u)).select("agentId").as[String].head() shouldBe "77"
    val none = """{"event":"outbound_call","body":{"id":5}}"""
    val r = Adapters.aloware(env(none)).select("agentId", "notes").head()
    r.getString(0) shouldBe "unknown"
    r.getString(1) should include("agent=unknown")
  }

  test("invalid timezone falls back to UTC date; tz shifts across midnight") {
    val badTz =
      """{"event":"outbound_call","body":{"id":6,"created_at":"2025-11-06 01:30:00",
        |"contact":{"timezone":"Not/AZone"}}}""".stripMargin.replace("\n", "")
    Adapters.aloware(env(badTz)).select("factDateKey").head()
      .getDate(0).toString shouldBe "2025-11-06"
    // 01:30 UTC is 20:30 previous day in New York — business date shifts.
    val nyTz =
      """{"event":"outbound_call","body":{"id":6,"created_at":"2025-11-06 01:30:00",
        |"contact":{"timezone":"America/New_York"}}}""".stripMargin.replace("\n", "")
    Adapters.aloware(env(nyTz)).select("factDateKey").head()
      .getDate(0).toString shouldBe "2025-11-05"
  }

  test("missing id falls back to uuid then to receivedAt epoch-millis") {
    val uuid = """{"event":"outbound_call","body":{"uuid_v4":"u-1","type":1}}"""
    Adapters.aloware(env(uuid)).select("eventId").as[String].head() shouldBe "ALOWARE:u-1"
    val nothing = """{"event":"outbound_call","body":{"type":1}}"""
    val epochMs = java.time.Instant.parse(recv).toEpochMilli
    Adapters.aloware(env(nothing)).select("eventId").as[String].head() shouldBe s"ALOWARE:$epochMs"
  }

  test("garbage created_at falls back to receivedAt for the date key") {
    val garbage = """{"event":"outbound_call","body":{"id":8,"created_at":"not a date"}}"""
    Adapters.aloware(env(garbage)).select("factDateKey").head()
      .getDate(0).toString shouldBe "2025-11-05"
  }

  test("hubspot scaffold emits one EMAILS event; mapping applies when named") {
    val r = Adapters.hubspot(env("""{}""", "HUBSPOT")).head()
    r.getAs[String]("metricId") shouldBe "EMAILS"
    r.getAs[String]("agentId") shouldBe "unknown@hubspot"
    r.getAs[String]("eventId") shouldBe s"HUBSPOT:${java.time.Instant.parse(recv).toEpochMilli}"
    val cased = Adapters.hubspot(env("""{"event":"case_created","id":11}""", "HUBSPOT")).head()
    cased.getAs[String]("metricId") shouldBe "CASES"
    cased.getAs[String]("eventId") shouldBe "HUBSPOT:11"
  }

  test("route dispatches each envelope by source and drops unknown sources (F4)") {
    val both = env(canonical)
      .union(env("""{}""", "HUBSPOT"))
      .union(env("""{}""", "MYSTERY"))
    val out = Adapters.route(both)
    out.count() shouldBe 2
    out.select("source").as[String].collect().sorted shouldBe Array("ALOWARE", "HUBSPOT")
  }

  test("route equals the per-source adapters on their rows, from one scan (F4)") {
    val hdr = "map('X-Delivery-Id','dlv-7')"
    val rows = Seq(
      ("ALOWARE", "map('x','y')", canonical),
      ("ALOWARE", hdr, """{"event":"outbound_text","body":{"id":21,"created_at":"2025-11-05 10:00:00","owner_id":1}}"""),
      ("ALOWARE", "map()", """{"event":"outbound_call","created_at":"2025-11-05T10:00:00Z","user_id":2,"type":1}"""),
      ("ALOWARE", "map()", """{"event":"inbound_call","body":{"id":22,"direction":2,"type":1}}"""),
      ("ALOWARE", "map()", """{"event":"outbound_meeting","body":{"id":23,"direction":2}}"""),
      ("HUBSPOT", "map()", """{"event":"case_created","id":24}"""),
      ("HUBSPOT", hdr, """{}"""),
      ("aloware", "map()", """{"event":"outbound_call","body":{"id":25,"owner_id":3}}"""),
      ("MYSTERY", "map()", """{"event":"outbound_call","body":{"id":26,"owner_id":4}}"""))
    val dir = java.nio.file.Files.createTempDirectory("graft-route").resolve("env").toString
    rows.map { case (source, headers, body) =>
      Seq((source, body, Timestamp.from(java.time.Instant.parse(recv))))
        .toDF("source", "body", "receivedAt")
        .selectExpr("source", s"$headers AS headers", "body", "receivedAt")
    }.reduce(_ unionByName _).write.parquet(dir)
    val x = spark.read.parquet(dir)

    val routed = Adapters.route(x)
    val perSource =
      Adapters.aloware(x.filter(upper(col("source")) === "ALOWARE"))
        .unionByName(Adapters.hubspot(x.filter(upper(col("source")) === "HUBSPOT")))
    val got = routed.collect().toSeq
    got should contain theSameElementsAs perSource.collect().toSeq
    // inbound, unknown-event and unknown-source rows are dropped
    val epochMs = java.time.Instant.parse(recv).toEpochMilli
    got.map(_.getAs[String]("eventId")) should contain theSameElementsAs Seq(
      "ALOWARE:719285063", "ALOWARE:21", s"ALOWARE:$epochMs",
      "HUBSPOT:24", "HUBSPOT:dlv-7", "ALOWARE:25")
    routed.columns.toSeq shouldBe perSource.columns.toSeq

    collectLeaves(routed.queryExecution.executedPlan) should have size 1
  }

  test("the ingest plan parses each body once and runs every filter and projection in whole-stage codegen") {
    // envelopes as the relay spools them, read with the JSON file source
    val dir = java.nio.file.Files.createTempDirectory("graft-plan-shape")
    val lines = Seq(
      ("ALOWARE", """{"X-Delivery-Id":"d-1"}""", canonical),
      ("ALOWARE", "{}", """{"event":"outbound_text","body":{"id":2,"owner_id":12345}}"""),
      ("ALOWARE", "{}", """{"event":"inbound_call","body":{"id":3,"direction":2,"type":1}}"""),
      ("HUBSPOT", """{"x-request-id":"r-4"}""", "{}"),
      ("ALOWARE", "{}", null))
    val micros = java.time.Instant.parse(recv).toEpochMilli * 1000L
    java.nio.file.Files.write(dir.resolve("spool.json"), lines.map { case (src, hdrs, body) =>
      val b = if (body == null) "null" else "\"" + body.replace("\"", "\\\"") + "\""
      s"""{"source":"$src","headers":$hdrs,"body":$b,"receivedAtMicros":$micros}"""
    }.mkString("\n").getBytes("UTF-8"))
    val envelopes = spark.read
      .schema("source STRING, headers MAP<STRING,STRING>, body STRING, receivedAtMicros BIGINT")
      .json(dir.toString)
      .select(col("source"), col("headers"), col("body"),
        timestamp_micros(col("receivedAtMicros")).as("receivedAt"))
    val roster = Seq("12345").toDF("id")
    val gated = RosterGate(Adapters.route(envelopes), Some(roster))
    // collect the frame itself, so its adaptive plan is the final one
    gated.collect().map(_.getAs[String]("eventId")).sorted shouldBe
      Array("ALOWARE:2", "ALOWARE:719285063")

    val plan = gated.queryExecution.executedPlan
    val expressions = collect(plan) { case n => n.expressions }.flatten
    expressions.flatMap(_.collect { case j: JsonToStructs => j }) should have size 1
    expressions.flatMap(_.collect { case h: HigherOrderFunction => h }) shouldBe empty

    // a codegen stage's operators: its subtree down to each InputAdapter
    def stageOps(p: SparkPlan): Seq[SparkPlan] = p match {
      case _: InputAdapter => Nil
      case _ => p +: p.children.flatMap(stageOps)
    }
    val inCodegen = collect(plan) { case w: WholeStageCodegenExec => stageOps(w.child) }
      .flatten.map(System.identityHashCode).toSet
    val filtersAndProjects = collect(plan) {
      case f: FilterExec => f: SparkPlan
      case p: ProjectExec => p: SparkPlan
    }
    filtersAndProjects should not be empty
    filtersAndProjects.filterNot(n => inCodegen(System.identityHashCode(n))) shouldBe empty
  }
}
