package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** The one query-name filter Bench and Verify share: a name that
  * matches no query must fail the run, not select nothing. */
class SparkEntrySelectSpec extends AnyFunSuite with Matchers {

  test("a known name selects exactly that query") {
    SparkEntry.select(Some("e1_scoreboard")).map(_._1) shouldBe
      Seq("e1_scoreboard")
  }

  test("unknown names throw, listing each of them") {
    val e = intercept[IllegalArgumentException] {
      SparkEntry.select(Some("e1_scoreboard,e1_scorebord,zz_nope"))
    }
    e.getMessage should include("\"e1_scorebord\"")
    e.getMessage should include("\"zz_nope\"")
    e.getMessage should not include "\"e1_scoreboard\""
  }

  test("no filter selects every query, sorted by name") {
    val names = SparkEntry.select(None).map(_._1)
    names shouldBe SparkEntry.queries.keys.toSeq.sorted
  }
}
