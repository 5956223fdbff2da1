package graft.functions

import org.apache.spark.sql.Row

import graft.SparkSpec

/** `graft_header_ci` returns exactly what the higher-order lookup
  * `get(filter(map_entries(h), e -> lower(e.key) = name), 0).value`
  * returns, interpreted and in generated code. */
class HeaderCISpec extends SparkSpec {
  import spark.implicits._

  // (case, headers, name, expected value)
  private val cases: Seq[(String, Map[String, String], String, String)] = Seq(
    ("mixed-case key", Map("X-Delivery-Id" -> "d-1", "Other" -> "o"), "x-delivery-id", "d-1"),
    ("shouting key", Map("X-REQUEST-ID" -> "r-2"), "x-request-id", "r-2"),
    ("already lower", Map("x-request-id" -> "r-3"), "x-request-id", "r-3"),
    ("first of two case twins wins", Map("X-Id" -> "first", "x-id" -> "second"), "x-id", "first"),
    ("twins, other order", Map("x-id" -> "first", "X-ID" -> "second"), "x-id", "first"),
    ("no match", Map("x-other" -> "v"), "x-id", null),
    ("null value", Map("x-id" -> null), "x-id", null),
    ("empty map", Map.empty[String, String], "x-id", null),
    ("null map", null, "x-id", null),
    ("upper-case name never matches", Map("x-id" -> "v"), "X-ID", null),
    ("dotted capital I lowers to i + U+0307", Map("\u0130D" -> "dotted"), "i\u0307d", "dotted"),
    ("dotted capital I is not plain i", Map("\u0130D" -> "dotted"), "id", null),
    ("Kelvin sign lowers to k", Map("\u212AD" -> "kelvin"), "kd", "kelvin"))

  private val lookups = Seq(
    "graft_header_ci(h, n) AS got",
    "get(filter(map_entries(h), e -> lower(e.key) = n), 0).value AS want")

  /** Both lookups over the cases, read from parquet so the optimizer
    * cannot fold them on the driver. */
  private def compare(): Seq[Row] = {
    val dir = java.nio.file.Files.createTempDirectory("graft-header-ci")
      .resolve("h").toString
    cases.map { case (c, h, n, _) => (c, h, n) }.toDF("c", "h", "n")
      .write.parquet(dir)
    spark.read.parquet(dir).selectExpr("c" +: lookups: _*).collect().toSeq
  }

  private def check(rows: Seq[Row]): Unit = {
    rows should have size cases.size
    val expected = cases.map { case (c, _, _, v) => c -> v }.toMap
    rows.foreach { r =>
      withClue(s"${r.getString(0)}: ") {
        r.getString(1) shouldBe r.getString(2)
        r.getString(1) shouldBe expected(r.getString(0))
      }
    }
  }

  private def withConfs(confs: (String, String)*)(body: => Unit): Unit = {
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("matches the higher-order lookup in generated code") {
    withConfs("spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY")(check(compare()))
  }

  test("matches the higher-order lookup interpreted") {
    withConfs("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")(check(compare()))
  }

  test("a literal call resolves and folds") {
    spark.sql("SELECT graft_header_ci(map('X-Delivery-Id', 'd'), 'x-delivery-id')")
      .as[String].head() shouldBe "d"
  }
}
