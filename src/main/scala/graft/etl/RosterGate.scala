package graft.etl

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** F3 — roster allow-list gate (SURVEY §2.3): drop events whose
  * agentId is not in the ring-group member set; deliberately
  * FAIL-OPEN — when the roster is unavailable, pass everything
  * through (the reference warns and continues,
  * `src/workflows/ingest/orchestrator.ts:59-62`). The availability-
  * over-correctness tradeoff is part of the contract (SURVEY §7 d).
  *
  * Scale: the roster is a small dim → broadcast left-semi, no shuffle
  * of the fact side.
  */
object RosterGate {
  def apply(events: DataFrame, roster: Option[DataFrame]): DataFrame =
    roster match {
      case Some(r) =>
        // no distinct(): a semi join only tests that a key exists, so
        // duplicate roster ids cannot change its output
        val ids = r.select(col("id").cast("string").as("agentId"))
        events.join(broadcast(ids), Seq("agentId"), "left_semi")
      case None => events // fail-open
    }
}
