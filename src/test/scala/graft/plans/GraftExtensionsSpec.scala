package graft.plans

import graft.SparkSpec

/** Sessions get graft's functions and planner strategy when they are
  * built: a `newSession()` child, with nothing read through `Tables`,
  * already resolves every `graft_*` name and plans as-of joins. */
class GraftExtensionsSpec extends SparkSpec {

  /** One call per function with the right arity (analysis only). */
  private val calls = Map(
    "graft_date_key" -> "graft_date_key(current_timestamp(), 'UTC')",
    "graft_header_ci" -> "graft_header_ci(map('X-Id', 'v'), 'x-id')",
    "graft_dot" -> "graft_dot(array(1d, 2d), array(3d, 4d))",
    "graft_shingle_hash" -> "graft_shingle_hash('a b c', 2)",
    "graft_minhash" -> "graft_minhash(array(1L, 2L), 4)",
    "graft_bloom_contains" -> "graft_bloom_contains(X'00', 1L)",
    "graft_ahash" -> "graft_ahash('x')",
    "graft_sig_matches" -> "graft_sig_matches(array(1L), array(1L))",
    "graft_shingle_seq" -> "graft_shingle_seq('a b c', 2)",
    "graft_winnow" -> "graft_winnow(array(1L, 2L), 2)",
    "graft_pair_merge" -> "graft_pair_merge(array('a', 'b'), 'a', 'b')",
    "graft_count_in" -> "graft_count_in(array(1L), array(1L))",
    "graft_lev_bound" -> "graft_lev_bound('ab', 'ac', 1)",
    "graft_norm" -> "graft_norm('A b')",
    "graft_pack_sorted" -> "graft_pack_sorted(array(1L, 2L))",
    "graft_packed_intersect" -> "graft_packed_intersect(X'00', X'00')",
    "graft_packed_common" -> "graft_packed_common(X'00', X'00')")

  test("every graft function resolves on a new session") {
    val s = spark.newSession()
    GraftExtensions.functions.foreach { case (ident, info, _) =>
      val name = ident.funcName
      withClue(s"$name: ") {
        calls.keySet should contain(name)
        val analyzed = s.range(1).selectExpr(calls(name)).queryExecution.analyzed
        analyzed.expressions.exists(_.exists(
          _.getClass.getName == info.getClassName)) shouldBe true
      }
    }
  }

  test("AsOfJoin.backward plans through AsOfJoinStrategy on a new session") {
    val s = spark.newSession()
    import s.implicits._
    val left = Seq((1L, 100L, "t1"), (1L, 200L, "t2")).toDF("k", "t", "id")
    val right = Seq((1L, 90L, "q90"), (1L, 150L, "q150")).toDF("rk", "rt", "q")
    val joined = AsOfJoin.backward(left, right, Seq("k" -> "rk"), "t", "rt")
    joined.queryExecution.sparkPlan.collect { case j: AsOfJoinExec => j } should have size 1
    joined.select($"id", $"q").collect().map(r => r.getString(0) -> r.getString(1))
      .toMap shouldBe Map("t1" -> "q90", "t2" -> "q150")
  }
}
