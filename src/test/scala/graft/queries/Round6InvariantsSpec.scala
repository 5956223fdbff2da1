package graft.queries

import graft.{SparkEntry, SparkSpec}

/** Round-6 hardening invariants: the batch SpaceSaving gate (e30)
  * must agree with the streaming operator's own contract, and e29's
  * attributed revenue must reconcile to the purchase total.
  */
class Round6InvariantsSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  test("e30: batch SpaceSaving with capacity >= distinct items is exact " +
    "(est = true count, err = 0) and every row is internally consistent") {
    val rows = SparkEntry.queries("e30_topk_exact")(spark, sfDir).collect()
    rows should not be empty
    rows.foreach { r =>
      withClue(r.toString) {
        r.getLong(3) shouldBe 0L            // err
        r.getLong(2) should be > 0L         // est
      }
    }
    // per group at most k = 5 reported hitters
    rows.groupBy(_.getString(0)).values.foreach(_.size should be <= 5)
  }

  test("e29: attributed revenue reconciles to total purchase revenue " +
    "after the day-bucketed join (no pair lost or duplicated)") {
    import org.apache.spark.sql.functions._
    val out = SparkEntry.queries("e29_multitouch")(spark, sfDir)
    val attributed = out.agg(sum(col("revenue"))).collect()(0).getDouble(0)
    val total = graft.Tables(spark, sfDir, "events")
      .filter(col("event_type") === "purchase")
      .agg(sum((round(col("value").cast("decimal(18,2)"), 2) * 100)
        .cast("long"))).collect()(0).getLong(0) / 100.0
    // per-touch micro-unit floors round half-up at 1e-10 of a cent;
    // reconciliation is exact to a cent at this scale
    attributed shouldBe (total +- 0.05)
  }
}
