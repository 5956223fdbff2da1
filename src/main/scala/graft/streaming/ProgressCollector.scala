package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress}

/** Complete per-batch progress series for one streaming run (the
  * listener harness StreamBench records its legs with).
  *
  * Why a listener and not `q.recentProgress`: the engine caps
  * recentProgress at spark.sql.streaming.numRecentProgressUpdates
  * (default 100) entries, so a long sustained run silently drops its
  * EARLIEST batches and any "first quartile" analysis then measures
  * the middle of the run. The listener sees every progress event
  * regardless of run length.
  *
  * Why enqueue-all/filter-after: a listener filtering on a query id
  * captured post-`start()` races registration — a progress event
  * delivered before the id is set would be silently discarded. Every
  * event is enqueued; the series is filtered by `q.id` after the
  * query stops.
  */
object ProgressCollector {
  final case class Collected(secs: Double, lastBatch: Long,
      series: Seq[StreamingQueryProgress])

  /** Starts the query `start` builds, drains it
    * (`processAllAvailable`), stops it, and waits (bounded) for the
    * final batch's asynchronously-delivered progress event. Returns
    * the wall seconds (start→stop, planning + state commit +
    * checkpoint included), the last batch id the query reported, and
    * the query's batch-ordered progress series. The listener is
    * always removed, even when the run throws. */
  def run(s: SparkSession, waitSecs: Int = 15)(start: => StreamingQuery)
      : Collected = {
    val progressLog = new java.util.concurrent.ConcurrentLinkedQueue[
      StreamingQueryProgress]()
    val listener = new StreamingQueryListener {
      import StreamingQueryListener._
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit = {
        progressLog.add(e.progress); ()
      }
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    }
    s.streams.addListener(listener)
    try {
      val t0 = System.nanoTime()
      val q = start
      try q.processAllAvailable() finally q.stop()
      val secs = (System.nanoTime() - t0) / 1e9
      val lastBatch = Option(q.lastProgress).map(_.batchId).getOrElse(-1L)
      // lastBatch = -1 means the run produced no progress at all
      // (empty input) — no event can ever match the sentinel, so
      // waiting would just burn the full deadline
      if (lastBatch >= 0) {
        val deadline = System.nanoTime() + waitSecs * 1000L * 1000 * 1000
        while (System.nanoTime() < deadline && {
            import scala.jdk.CollectionConverters._
            !progressLog.iterator().asScala
              .exists(p => p.id == q.id && p.batchId == lastBatch)
          }) Thread.sleep(50)
      }
      val series = {
        import scala.jdk.CollectionConverters._
        progressLog.iterator().asScala.toSeq
          .filter(_.id == q.id).sortBy(_.batchId)
      }
      Collected(secs, lastBatch, series)
    } finally s.streams.removeListener(listener)
  }
}
