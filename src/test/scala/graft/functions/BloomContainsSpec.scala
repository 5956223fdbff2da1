package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSpec

class BloomContainsSpec extends SparkSpec {
  import spark.implicits._

  private def bloomBytes(keys: Seq[Long], n: Long = 10000L): Array[Byte] = {
    val bf = keys.toDF("k").stat.bloomFilter("k", n, 0.01)
    val bos = new java.io.ByteArrayOutputStream()
    bf.writeTo(bos)
    bos.toByteArray
  }

  test("no false negatives: every inserted key probes true") {
    val keys = (1L to 2000L).map(_ * 13)
    val bytes = bloomBytes(keys)
    val hits = keys.toDF("k")
      .filter(call_function("graft_bloom_contains", lit(bytes), col("k")))
      .count()
    hits shouldBe keys.size.toLong
  }

  test("prunes most non-members at 1% fpp") {
    val members = (1L to 1000L).toSeq
    val bytes = bloomBytes(members)
    val nonMembers = (100001L to 110000L).toDF("k")
    val falsePositives = nonMembers
      .filter(call_function("graft_bloom_contains", lit(bytes), col("k")))
      .count()
    // 10k probes at fpp=0.01 → ~100 expected; generous ceiling
    falsePositives.toDouble should be < 500.0
  }

  test("prefilter + exact semi join equals plain semi join") {
    val big = (1L to 20000L).map(i => (i % 97, i)).toDF("key", "payload")
    val small = Seq(3L, 17L, 42L).toDF("key")
    val bytes = bloomBytes(Seq(3L, 17L, 42L))
    val plain = big.join(small, Seq("key"), "left_semi").count()
    val pre = big
      .filter(call_function("graft_bloom_contains", lit(bytes), col("key")))
      .join(small, Seq("key"), "left_semi").count()
    pre shouldBe plain
  }
}
