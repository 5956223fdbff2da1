package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Source adapters: envelope DataFrame → normalized FactEvent rows.
  *
  * Pure column-expression pipelines (no UDFs; the date key and the
  * header lookup are the native `graft_date_key` and `graft_header_ci`
  * Catalyst expressions). Each envelope's body is parsed once, in a
  * `Generate` (the one operator of the stage outside whole-stage
  * codegen, since `from_json` has no codegen); each payload field is
  * then extracted once into one projection, and the gates, the filter
  * and every output column read those columns inside whole-stage
  * codegen.
  *
  * Faithful to the reference dataflow (SURVEY §2.2-2.3):
  * shape normalization P1, tz date key P2, timestamp coercion P3,
  * agent fallback chain P4, deterministic event id P5, notes P6,
  * dedup key P7, outbound filter F1, metric classification F2 with
  * unknown→drop, HubSpot scaffold + metric mapping P12, source
  * routing F4 as a single pass over the envelopes.
  */
object Adapters {

  /** HubSpot event-name → MetricID mapping (reference `src/domain/mapping.ts`). */
  val hubspotToMetric: Map[String, String] =
    Map("email_sent" -> "EMAILS", "case_created" -> "CASES")

  /** P1: pick a payload field across the three accepted envelope
    * shapes — `parsedBody.body.f` ?? `body.f` ?? bare `f`. */
  private def p(f: String): Column =
    coalesce(col(s"j.parsedBody.body.$f"), col(s"j.body.$f"), col(s"j.$f"))

  /** P3: ISO or "yyyy-MM-dd HH:mm:ss" (read as UTC; session tz is
    * UTC), null on garbage — ANSI-safe via try_to_timestamp. */
  private def parseCreatedAt(c: Column): Column =
    coalesce(
      try_to_timestamp(c, lit("yyyy-MM-dd HH:mm:ss")),
      try_to_timestamp(c, lit("yyyy-MM-dd'T'HH:mm:ssXXX")),
      try_to_timestamp(c, lit("yyyy-MM-dd'T'HH:mm:ss.SSSXXX")),
      try_to_timestamp(c, lit("yyyy-MM-dd'T'HH:mm:ss")))

  /** Provenance: the delivery id a webhook gateway stamps on each
    * attempt (reference threads the envelope `headers`
    * `Record<string,string>`, `src/domain/types.ts:5`). Header names
    * are case-insensitive per HTTP, so the lookup lowercases every
    * key (not just the common casings — X-DELIVERY-ID from a shouting
    * gateway must still dedupe); a missing header is null. */
  private def headerCI(name: String): Column =
    call_function("graft_header_ci", col("headers"), lit(name))

  // The extracted payload columns every gate and FactEvent column reads.
  private val Id = "_id"
  private val Uuid = "_uuid"
  private val Direction = "_direction"
  private val Type = "_type"
  private val CreatedAt = "_createdAt"
  private val Tz = "_tz"
  private val Agent = "_agent"
  private val Event = "_event"
  private val Delivery = "_delivery"

  /** One JSON parse per envelope, then one projection that extracts
    * every payload field the adapters read: every accepted payload
    * shape fits the Aloware body schema (HubSpot's fields are a subset
    * of it). */
  private def extracted(envelopes: DataFrame): DataFrame =
    envelopes
      // explode(array(x)) yields exactly one row per envelope (a null
      // struct when the body is null), and it plans as a Generate, which
      // the route's filter cannot be pushed below. A plain projection
      // `j = from_json(body)` lets Catalyst push the filter through it
      // and inline `j` at every reference, and OptimizeJsonExprs then
      // splits each inlined copy into its own pruned parse.
      .select(col("source"), col("headers"), col("receivedAt"),
        explode(array(from_json(col("body"), Schemas.alowareBody))).as("j"))
      .select(
        col("source"), col("receivedAt"),
        p("id").cast("string").as(Id),
        p("uuid_v4").as(Uuid),
        p("direction").as(Direction),
        p("type").as(Type),
        p("created_at").as(CreatedAt),
        p("contact").getField("timezone").as(Tz),
        // P4: owner, then user, then "unknown"
        coalesce(p("owner_id").cast("string"), p("user_id").cast("string"),
          lit("unknown")).as(Agent),
        lower(coalesce(col("j.parsedBody.event"), col("j.event"), lit(""))).as(Event),
        coalesce(headerCI("x-delivery-id"), headerCI("x-request-id")).as(Delivery))

  /** F1: outbound-only gate; name wins over the numeric direction,
    * default deny (reference `aloware.adapter.ts:35-43`). */
  def isOutbound(name: Column, direction: Column): Column =
    when(name.rlike("outbound|outgoing"), lit(true))
      .when(name.contains("inbound"), lit(false))
      .when(direction === 2, lit(true))
      .otherwise(lit(false))

  /** F2: TEXTS/CALLS classification; unknown stays null and the row
    * is dropped — "no misclassification" (`aloware.adapter.ts:45-52`). */
  def inferMetric(name: Column, tpe: Column): Column =
    when(name.rlike("text|sms"), lit("TEXTS"))
      .when(name.contains("call"), lit("CALLS"))
      .when(tpe === 2, lit("TEXTS"))
      .when(tpe === 1, lit("CALLS"))
      .otherwise(lit(null).cast("string"))

  /** Appends P7's dedup key to FactEvent rows. */
  private def withDedupKey(facts: DataFrame): DataFrame =
    facts.withColumn("dedupKey", concat_ws(":", col("source"), col("eventId")))

  /** Aloware's F1/F2 gate over the extracted columns: outbound, and
    * a known metric. */
  private def alowareKeeps: Column =
    isOutbound(col(Event), col(Direction)) && inferMetric(col(Event), col(Type)).isNotNull

  /** Aloware's FactEvent columns over the extracted columns, by name. */
  private def alowareColumns: Seq[(String, Column)] = {
    val tzRaw = col(Tz)
    val eventTime = coalesce(parseCreatedAt(col(CreatedAt)), col("receivedAt"))
    val agentId = col(Agent)
    val deliveryId = col(Delivery)
    Seq(
      // P5 id chain ends in the delivery-id header BEFORE the
      // receive time: a redelivered webhook keeps its delivery id
      // but gets a new receivedAt, so the header keeps retried
      // no-payload-id events deduplicable (P7 keys off eventId).
      "eventId" -> concat(lit("ALOWARE:"), coalesce(col(Id),
        col(Uuid), deliveryId, unix_millis(col("receivedAt")).cast("string"))),
      "agentId" -> agentId,
      "factDateKey" -> call_function("graft_date_key", eventTime,
        coalesce(tzRaw, lit("UTC"))).cast("date"),
      "metricId" -> inferMetric(col(Event), col(Type)),
      "notes" -> concat_ws(";",
        concat(lit("event="), col(Event)),
        when(tzRaw.isNotNull, concat(lit("tz="), tzRaw)),
        when(deliveryId.isNotNull, concat(lit("delivery="), deliveryId)),
        when(agentId === "unknown", lit("agent=unknown"))),
      "source" -> col("source"),
      "receivedAt" -> col("receivedAt"))
  }

  /** HubSpot's FactEvent columns over the extracted columns, by name
    * (the same names as [[alowareColumns]]). */
  private def hubspotColumns: Seq[(String, Column)] = Seq(
    "eventId" -> concat(lit("HUBSPOT:"), coalesce(col(Id),
      col(Delivery), unix_millis(col("receivedAt")).cast("string"))),
    "agentId" -> lit("unknown@hubspot"),
    "factDateKey" -> col("receivedAt").cast("date"),
    "metricId" -> coalesce(element_at(typedLit(hubspotToMetric), col(Event)),
      lit("EMAILS")),
    "notes" -> lit("example event (scaffold)"),
    "source" -> col("source"),
    "receivedAt" -> col("receivedAt"))

  private def named(cols: Seq[(String, Column)]): Seq[Column] =
    cols.map { case (n, c) => c.as(n) }

  /** Aloware webhook → FactEvent rows (≤1 per envelope). */
  def aloware(envelopes: DataFrame): DataFrame =
    withDedupKey(extracted(envelopes).filter(alowareKeeps).select(named(alowareColumns): _*))

  /** HubSpot webhook → FactEvent rows. The reference adapter is a
    * scaffold emitting one EMAILS event per envelope
    * (`src/adapters/hubspot.adapter.ts`); we honor that default but
    * apply the declared name→metric mapping (P12) when the payload
    * carries a recognizable event name. */
  def hubspot(envelopes: DataFrame): DataFrame =
    withDedupKey(extracted(envelopes).select(named(hubspotColumns): _*))

  /** F4: route by source — the orchestrator's adapter dispatch
    * (SURVEY §2.3 F4, §2.7 O2) as a single pass: each envelope is
    * parsed once, kept by its own source's gate, and every output
    * column picks its source's expression, so the result equals
    * `aloware(ALOWARE rows) ∪ hubspot(HUBSPOT rows)` from one scan of
    * the input. Unknown sources are dropped (the entrypoints 400 them
    * before the dataflow). */
  def route(envelopes: DataFrame): DataFrame = {
    val source = upper(col("source"))
    val isAloware = source === "ALOWARE"
    val hubspotByName = hubspotColumns.toMap
    val columns = alowareColumns.map { case (n, a) =>
      when(isAloware, a).otherwise(hubspotByName(n)).as(n)
    }
    withDedupKey(extracted(envelopes)
      .filter(when(isAloware, alowareKeeps).otherwise(source === "HUBSPOT"))
      .select(columns: _*))
  }
}
