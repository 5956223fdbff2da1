package graft

/** The spec session is the engine session: specs plan and run under
  * the confs `GraftSession.builder` sets, not a test-only copy. */
class SessionConfSpec extends SparkSpec {

  test("the spec session carries the engine's planner, shuffle and " +
      "checkpoint confs") {
    val conf = spark.conf
    conf.get("spark.sql.join.preferSortMergeJoin") shouldBe "false"
    conf.get("spark.shuffle.sort.bypassMergeThreshold") shouldBe "8"
    conf.get(GraftSession.checkpointManagerConf._1) shouldBe
      GraftSession.checkpointManagerConf._2
    GraftSession.checkpointManagerConf._1 shouldBe
      "spark.sql.streaming.checkpointFileManagerClass"
  }
}
