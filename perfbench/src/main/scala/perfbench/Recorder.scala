package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.TaskContext

import graft.etl.PushSink

/** The sink the benchmark pushes into: records every pushed EventID
  * with its push time and micro-batch id. Tasks run in this JVM
  * (local master), so the recording lands in one process-wide store. */
final class RecordingPusher extends PushSink.RowPusher {
  override def push(table: String, chunk: Seq[String]): Unit =
    Recorder.record(chunk)
}

final case class Pushed(eventId: String, atMicros: Long, batchId: Long)

object Recorder {
  private val rows = new ConcurrentLinkedQueue[Pushed]()
  private val callNs = new ConcurrentLinkedQueue[java.lang.Long]()
  private val requests = new AtomicLong
  private val IdField = "\"EventID\":\""

  def nowMicros(): Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000L + i.getNano / 1000L
  }

  def record(chunk: Seq[String]): Unit = {
    val t0 = System.nanoTime()
    val at = nowMicros()
    val batch = Option(TaskContext.get())
      .flatMap(tc => Option(tc.getLocalProperty("streaming.sql.batchId")))
      .map(_.toLong).getOrElse(-1L)
    chunk.foreach { j =>
      val i = j.indexOf(IdField)
      if (i >= 0) {
        val s = i + IdField.length
        rows.add(Pushed(j.substring(s, j.indexOf('"', s)), at, batch))
      }
    }
    requests.incrementAndGet()
    callNs.add(System.nanoTime() - t0)
  }

  def pushed: Vector[Pushed] = rows.asScala.toVector
  def requestCount: Long = requests.get()
  def callMs: Vector[Double] = callNs.asScala.toVector.map(_ / 1e6)

  def clear(): Unit = { rows.clear(); callNs.clear(); requests.set(0) }
}
