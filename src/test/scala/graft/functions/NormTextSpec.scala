package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** graft_norm must return EXACTLY what the regex composition
  * `trim(regexp_replace(regexp_replace(lower(s), '[^a-z0-9 ]', ''),
  * ' +', ' '))` returns — the DuckDB oracles (c1, t7, the streaming
  * gate's batch twins) still spell out the regex form, so the kernel
  * is an implementation of that contract, not an approximation.
  * Randomized differential coverage includes multi-byte UTF-8 (each
  * continuation byte must drop exactly like the char-level regex
  * drops the whole char) and Unicode-lowercasing inputs. */
class NormTextSpec extends SparkSpec {
  import spark.implicits._

  private def viaRegex(rows: Seq[String]) = {
    val df = rows.toDF("s")
    df.select(trim(regexp_replace(
        regexp_replace(lower(col("s")), "[^a-z0-9 ]", ""), " +", " "))
        .as("n"))
      .collect().map(_.getString(0)).toSeq
  }

  private def viaKernel(rows: Seq[String]) = {
    rows.toDF("s")
      .select(call_function("graft_norm", col("s")).as("n"))
      .collect().map(_.getString(0)).toSeq
  }

  test("edge cases: empty, all-stripped, space runs, leading/trailing") {
    val cases = Seq("", "   ", "!!!", "a", "  a  ", "a    b", "A.B-C",
      "The  Quick,  Brown Fox!! 123", ". . .", "a.b", "a . b", "9 9")
    viaKernel(cases) shouldBe viaRegex(cases)
  }

  test("unicode: multi-byte chars drop whole; unicode lowering matches " +
      "Spark's lower()") {
    val cases = Seq("Héllo Wörld", "日本語 text 42", "İstanbul I",
      "ÅNGSTRÖM a", "emoji 😀 gap", "ß sharp", "Ω mega", "ţ Ţ")
    viaKernel(cases) shouldBe viaRegex(cases)
  }

  test("randomized differential vs the regex composition") {
    val rnd = new scala.util.Random(20260814)
    val pool = "abzAZ09 .,!-_#éÖ日😀\t\n"
    val cases = (0 until 300).map { _ =>
      val len = rnd.nextInt(80)
      new String(Array.fill(len)(pool(rnd.nextInt(pool.length))))
    }
    viaKernel(cases) shouldBe viaRegex(cases)
  }
}
