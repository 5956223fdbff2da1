package graft.streaming

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** The live HTTP entrypoint of S1 (reference
  * `src/workflows/ingest/entrypoints/server.ts:28-75`), re-expressed
  * for a streaming engine as a SPOOL-AND-STREAM relay: the HTTP
  * terminator's only job is to accept a webhook delivery, stamp the
  * envelope (source, headers, body, receivedAt — the reference's
  * IngestEnvelope shape), and make it DURABLE before acking 200.
  * Each delivery lands as one spool file via write-hidden +
  * atomic-rename, and [[spoolSource]] turns the spool directory into
  * the streaming envelope frame the shared transforms consume —
  * unlike the raw socket source this deployment is replayable
  * (files persist until retention reclaims them) and at-least-once
  * end-to-end (the ack follows the rename; the stateful ledger
  * absorbs redelivery after an ack loss).
  *
  * Route/status parity with the reference entrypoint:
  * GET /health → 200; non-POST or non-webhook path → 404; unknown
  * source segment (case-insensitive) → 400; malformed JSON body →
  * 500 and NO spool entry; accepted delivery → 200 {"ok":true}.
  *
  * Scale: the relay is a stateless edge process — run N of them
  * behind any balancer, all writing the same spool (names are
  * UUID-unique); ingest reads the spool with Spark's file source,
  * and each micro-batch takes every spool file that landed since the
  * last one (no maxFilesPerTrigger is set). The engine's contract
  * stays the envelope frame, exactly as with the file/socket/Kafka
  * transports in [[StreamingIngest]].
  */
object HttpEnvelopeRelay {

  /** Reference server.ts:44-46 — the accepted /webhook/ sources. */
  val DefaultSources: Set[String] = Set("ALOWARE", "HUBSPOT")

  private val EnvelopeSchema = StructType.fromDDL(
    "source STRING, headers MAP<STRING,STRING>, body STRING, " +
      "receivedAtMicros BIGINT")

  final class Relay private[HttpEnvelopeRelay] (server: HttpServer)
      extends AutoCloseable {
    def port: Int = server.getAddress.getPort
    override def close(): Unit = server.stop(0)
  }

  /** Starts the relay on `port` (0 = ephemeral), spooling accepted
    * envelopes into `spoolDir`. Single dispatch thread, so a spool's
    * file order is its arrival order. */
  def start(spoolDir: String, port: Int = 0,
      sources: Set[String] = DefaultSources): Relay = {
    val dir = Paths.get(spoolDir)
    Files.createDirectories(dir)
    val mapper = new ObjectMapper()
    val server = HttpServer.create(new InetSocketAddress(port), 0)
    server.createContext(
      "/", (ex: HttpExchange) => handle(ex, spoolDir, mapper, sources))
    server.start()
    new Relay(server)
  }

  /** The spool as a streaming envelope frame (`source, headers, body,
    * receivedAt`) — plug into [[StreamingIngest.transform]]. Spark's
    * JSON file source reads each envelope line straight into
    * [[EnvelopeSchema]]: one parse per delivery, in the scan. */
  def spoolSource(spark: SparkSession, spoolDir: String): DataFrame =
    spark.readStream.schema(EnvelopeSchema).json(spoolDir)
      .select(col("source"), col("headers"), col("body"),
        timestamp_micros(col("receivedAtMicros")).as("receivedAt"))

  private def respond(ex: HttpExchange, status: Int, json: String): Unit = {
    val bytes = json.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(status, bytes.length.toLong)
    val os = ex.getResponseBody
    try os.write(bytes) finally os.close()
  }

  private def handle(ex: HttpExchange, spoolDir: String,
      mapper: ObjectMapper, sources: Set[String]): Unit =
    try {
      val method = ex.getRequestMethod
      val path = ex.getRequestURI.getPath
      if (method == "GET" && path == "/health")
        respond(ex, 200, """{"ok":true}""")
      else if (method != "POST" || !path.startsWith("/webhook/"))
        respond(ex, 404, """{"error":"Not Found"}""")
      else {
        val source = path.split("/").filter(_.nonEmpty)
          .drop(1).headOption.map(_.toUpperCase).getOrElse("")
        if (!sources.contains(source))
          respond(ex, 400, """{"error":"Invalid source"}""")
        else {
          val raw = new String(
            ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
          try {
            // parse gate only; an EMPTY body is accepted untouched —
            // the reference's `raw ? JSON.parse(raw) : undefined`
            // ternary (server.ts:49) admits it with body undefined,
            // and the adapters' null-drop (F2) discards it downstream
            if (raw.nonEmpty) mapper.readTree(raw)
            spool(ex, spoolDir, mapper, source, raw)
            respond(ex, 200, """{"ok":true}""")
          } catch {
            case err: Throwable =>
              val msg = mapper.writeValueAsString(
                Option(err.getMessage).getOrElse(err.toString))
              respond(ex, 500, s"""{"ok":false,"error":$msg}""")
          }
        }
      }
    } finally ex.close()

  /** One delivery → one spool file, durably: serialize the envelope
    * as a single JSON line, write it under a dot-hidden name (the
    * file source never lists those), fsync, and ATOMIC_MOVE into
    * place — a reader sees either nothing or the whole envelope. */
  private def spool(ex: HttpExchange, spoolDir: String,
      mapper: ObjectMapper, source: String, raw: String): Unit = {
    val env = mapper.createObjectNode()
    env.put("source", source)
    val hdrs = env.putObject("headers")
    ex.getRequestHeaders.entrySet().asScala.foreach { e =>
      if (!e.getValue.isEmpty)
        hdrs.put(e.getKey.toLowerCase, e.getValue.get(0))
    }
    env.put("body", raw)
    val now = java.time.Instant.now()
    env.put("receivedAtMicros",
      now.getEpochSecond * 1000000L + now.getNano / 1000L)
    val line = mapper.writeValueAsString(env) + "\n"
    val name = source + "-" + java.util.UUID.randomUUID().toString + ".json"
    val tmp = Paths.get(spoolDir, "." + name + ".tmp")
    // on ANY failure before the rename lands, reclaim the dot-hidden
    // tmp — the file source never lists it (correctness is safe) but
    // failed deliveries would otherwise accumulate residue invisible
    // to retention tooling keyed on visible spool names
    try {
      val out = new java.io.FileOutputStream(tmp.toFile)
      try {
        out.write(line.getBytes(StandardCharsets.UTF_8))
        out.getFD.sync()
      } finally out.close()
      Files.move(tmp, Paths.get(spoolDir, name),
        StandardCopyOption.ATOMIC_MOVE)
    } catch {
      case t: Throwable =>
        try Files.deleteIfExists(tmp)
        catch { case cleanup: Throwable => t.addSuppressed(cleanup) }
        throw t
    }
    // fsync the DIRECTORY too: the rename's directory entry must be
    // journaled before the 200 ack, or a machine crash can lose an
    // acknowledged delivery (the file's own fsync does not cover its
    // parent's entry) — same crash model as the _COMMIT hsync in
    // CorpusLayout/Maintenance.
    val dirCh = java.nio.channels.FileChannel.open(
      Paths.get(spoolDir), java.nio.file.StandardOpenOption.READ)
    try dirCh.force(true) finally dirCh.close()
  }
}
