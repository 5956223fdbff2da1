package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Unit contracts for the near-dup operators — in particular the d2
  * frequency cap: hot shingles are dropped from candidate generation
  * only, so near-dup pairs that also share a rare shingle keep their
  * EXACT full-set Jaccard, and pairs linked solely through boilerplate
  * never become candidates. */
class TextDedupSpec extends SparkSpec {

  import spark.implicits._

  // Shingle "hashes" are just longs here — jaccardPairs only needs
  // array<long> sets, not real text.
  private val boiler = Seq(900L, 901L, 902L) // shared by every doc

  test("near-dup pair sharing a rare shingle survives the cap with exact jaccard") {
    // docs 1/2 are near-dups (9 of 10 shingles shared, all rare);
    // docs 3..8 only share boilerplate with everyone.
    val nearA = (1L to 9L) :+ 10L
    val nearB = (1L to 9L) :+ 11L
    val docs = (Seq(("a", nearA ++ boiler), ("b", nearB ++ boiler)) ++
      (3 to 8).map(i => (s"z$i", Seq(100L + i) ++ boiler)))
      .toDF("id", "xs")

    val out = TextDedup.jaccardPairs(docs, "id", "xs", threshold = 0.5, maxDf = 4)
      .df.collect()
    out.map(r => (r.getString(0), r.getString(1))).toSet shouldBe Set(("a", "b"))
    // jaccard over FULL sets incl. boilerplate: 12 common / 14 union
    out.head.getDouble(2) shouldBe (12.0 / 14.0) +- 1e-6
  }

  test("pairs linked only through hot shingles generate no candidates") {
    val docs = (1 to 6).map(i => (s"d$i", Seq(1000L + i) ++ boiler)).toDF("id", "xs")
    // uncapped: every pair shares the 3 boilerplate shingles (jaccard
    // 3/5 = 0.6); capped at df>4 those links vanish entirely.
    TextDedup.jaccardPairs(docs, "id", "xs", 0.5).df.count() shouldBe 15
    TextDedup.jaccardPairs(docs, "id", "xs", 0.5, maxDf = 4).df.count() shouldBe 0
  }

  test("simhash dense-bucket guard matches brute force on a skewed corpus") {
    // 120 docs over only 5 distinct signatures (dense buckets: every
    // block bucket holds ~all docs) plus a few sparse outliers —
    // exactly the corpus shape the hd=0 pre-collapse exists for.
    val base = Seq(0x0F0F0F0FL, 0x0F0F0F0EL, 0x0F0F0F1FL, 0xF0F0F0F0L, 0x00FF00FFL)
    val rng = new scala.util.Random(7)
    val docs = ((0 until 120).map(i => (i.toLong, base(rng.nextInt(base.size)))) ++
      Seq((200L, 0x12345678L), (201L, 0x12345679L)))
      .toDF("id", "simhash")

    val got = TextDedup.simhashPairs(docs, "id", maxHamming = 3, nBlocks = 4)
      .df.select("d1", "d2", "hamming").as[(Long, Long, Long)].collect().toSet

    val brute = docs.as("a").crossJoin(docs.as("b"))
      .filter(col("a.id") < col("b.id"))
      .select(col("a.id"), col("b.id"),
        expr("bit_count(a.simhash ^ b.simhash)").cast("long"))
      .as[(Long, Long, Long)].collect().filter(_._3 <= 3).toSet

    got shouldBe brute
    // sanity: the skew is real — thousands of intra-group pairs
    got.count(_._3 == 0) should be > 1000
  }

  test("oversized-bucket secondary split matches brute force (tiny splitThreshold)") {
    // Many DISTINCT near-identical signatures: base plus every 1-bit
    // flip plus a band of 2-bit flips — each 8-bit primary block
    // bucket holds dozens of distinct sigs, so splitThreshold = 2
    // forces EVERY bucket through the sub-key pigeonhole path (rem /
    // sub-block bit arithmetic). Recall must stay exact: given a
    // primary block equal, ≤ maxHamming diffs remain in the other 24
    // bits, and maxHamming+1 sub-blocks guarantee one equal sub-key.
    val base = 0x5A5A5A5AL
    val sigs = (Seq(base) ++
      (0 until 32).map(i => base ^ (1L << i)) ++
      (0 until 31).map(i => base ^ (1L << i) ^ (1L << (i + 1))) ++
      (0 until 24).map(i => base ^ (1L << i) ^ (1L << (i + 8)))).distinct
    val docs = sigs.zipWithIndex.map { case (s, i) => (i.toLong, s) }
      .toDF("id", "simhash")

    val got = TextDedup.simhashPairs(docs, "id", maxHamming = 3, nBlocks = 4,
        splitThreshold = 2)
      .df.select("d1", "d2", "hamming").as[(Long, Long, Long)].collect().toSet
    val brute = docs.as("a").crossJoin(docs.as("b"))
      .filter(col("a.id") < col("b.id"))
      .select(col("a.id"), col("b.id"),
        expr("bit_count(a.simhash ^ b.simhash)").cast("long"))
      .as[(Long, Long, Long)].collect().filter(_._3 <= 3).toSet
    got shouldBe brute
    // sanity: the refined path really ran — buckets exceeded the
    // threshold (every sig shares a block with dozens of others)
    sigs.size should be > 80
  }

  test("leased form frees the intermediate cache on release") {
    val docs = (Seq(("a", Seq(1L, 2L, 3L)), ("b", Seq(1L, 2L, 4L)),
      ("c", Seq(9L, 10L, 11L)))).toDF("id", "xs")
    val lease = TextDedup.jaccardPairs(docs, "id", "xs", threshold = 0.4)
    lease.df.count() shouldBe 1 // consume the result
    lease.cached should not be empty
    all(lease.cached.map(_.storageLevel.useMemory)) shouldBe true
    lease.release()
    all(lease.cached.map(_.storageLevel)) shouldBe
      org.apache.spark.storage.StorageLevel.NONE
    // the result stays evaluable (recomputes from source)
    lease.df.count() shouldBe 1

    val sims = Seq((1L, 0x0FL), (2L, 0x0FL), (3L, 0xF0L)).toDF("id", "simhash")
    val sl = TextDedup.simhashPairs(sims, "id", maxHamming = 3)
    sl.df.count() shouldBe 1
    sl.release()
    all(sl.cached.map(_.storageLevel)) shouldBe
      org.apache.spark.storage.StorageLevel.NONE
  }

  test("repeatedSpans: maximal runs with exact starts and lengths") {
    def doc(words: String*) = words.mkString(" ")
    val shared = (1 to 12).map(i => s"s$i") // a 12-word shared passage
    val d1txt = doc((Seq("a1", "a2") ++ shared ++ Seq("a3", "a4")): _*)
    val d2txt = doc((Seq("b1", "b2", "b3") ++ shared ++ Seq("b4")): _*)
    val other = doc((1 to 20).map(i => s"z$i"): _*)
    val docs = Seq((1L, d1txt), (2L, d2txt), (3L, other)).toDF("doc_id", "text")
      .withColumn("w", split(col("text"), " "))
    val spans = TextDedup.repeatedSpans(docs, "doc_id", "w",
      n = 8, maxDf = 100, minSpanWords = 10)
      .as[(Long, Long, Int, Int, Long)].collect().toSet
    // the shared passage: 12 words → 5 consecutive shared 8-grams →
    // one maximal span of 12 words, at word 2 in doc1 and word 3 in doc2
    spans shouldBe Set((1L, 2L, 2, 3, 12L))
  }

  test("repeatedSpans: separate runs stay separate; below-threshold spans drop") {
    val runA = (1 to 10).map(i => s"a$i")
    val runB = (1 to 9).map(i => s"b$i") // 9 words: below minSpanWords=10
    val d1 = (runA ++ Seq("x1", "x2", "x3") ++ runB).mkString(" ")
    val d2 = (runB ++ Seq("y1", "y2", "y3", "y4") ++ runA).mkString(" ")
    val docs = Seq((1L, d1), (2L, d2)).toDF("doc_id", "text")
      .withColumn("w", split(col("text"), " "))
    val spans = TextDedup.repeatedSpans(docs, "doc_id", "w",
      n = 8, maxDf = 100, minSpanWords = 10)
      .as[(Long, Long, Int, Int, Long)].collect().toSet
    // only runA (10 words) crosses the threshold; runB (9) is dropped;
    // runA sits at word 0 in doc1 and word 13 in doc2
    spans shouldBe Set((1L, 2L, 0, 13, 10L))
  }

  test("repeatedSpans: periodic text does not blow up or duplicate spans") {
    // the same 4-word phrase repeated: every occurrence of each gram
    // matches every occurrence in the other doc (many diagonals) —
    // spans must stay distinct per (pair, diagonal, island)
    val phrase = Seq("p1", "p2", "p3", "p4")
    val d1 = (Seq.fill(6)(phrase).flatten).mkString(" ") // 24 words
    val d2 = (Seq.fill(5)(phrase).flatten ++ Seq("tail")).mkString(" ")
    val docs = Seq((1L, d1), (2L, d2)).toDF("doc_id", "text")
      .withColumn("w", split(col("text"), " "))
    val spans = TextDedup.repeatedSpans(docs, "doc_id", "w",
      n = 8, maxDf = 100, minSpanWords = 10)
      .select("d1", "d2", "start1", "start2", "span_words")
    val rows = spans.collect()
    rows.length should be > 0
    spans.distinct().count() shouldBe rows.length.toLong
    // the dominant diagonal (aligned starts) covers the full 20-word overlap
    rows.map(_.getLong(4)).max shouldBe 20L
  }

  test("two-sided LSH candidates = cross-side slice of the union self-join") {
    // signatures engineered so band keys collide within {1,2,3} and
    // within {10,11}, never across groups
    val sigA = Seq.fill(16)(100L)
    val sigB = Seq.fill(16)(200L)
    val sigs = Seq(
      (1L, sigA), (2L, sigA), (3L, sigA),
      (10L, sigB), (11L, sigB),
      (20L, Seq.tabulate(16)(i => 900L + i))).toDF("id", "sig")
    val delta = sigs.filter(col("id") < 10)
    val index = sigs.filter(col("id") >= 10)
    val two = TextDedup.lshCandidatesTwoSided(delta, index, "id", 16, 4)
      .select("d1", "d2").as[(Long, Long)].collect().toSet
    // self-join on the union, restricted to cross-side pairs, with
    // the two-sided orientation (d1 = delta side)
    val self = TextDedup.lshCandidates(sigs, "id", 16, 4)
      .select("d1", "d2").as[(Long, Long)].collect().toSet
    val crossSelf = self.collect {
      case (a, b) if a < 10 && b >= 10 => (a, b)
      case (a, b) if b < 10 && a >= 10 => (b, a)
    }
    two shouldBe crossSelf
    // and the within-side pairs exist in the self-join but not here
    self.exists { case (a, b) => a < 10 && b < 10 } shouldBe true
    two.exists { case (a, b) => b < 10 } shouldBe false
  }

  test("two-sided LSH keeps the delta orientation and drops same-id hits") {
    import org.apache.spark.sql.functions.lit
    val sig = Seq.fill(16)(5L)
    val delta = Seq((1L, sig)).toDF("id", "sig")
    val index = Seq((1L, sig), (2L, sig)).toDF("id", "sig") // 1 re-crawled
    val out = TextDedup.lshCandidatesTwoSided(delta, index, "id", 16, 4)
      .select("d1", "d2").as[(Long, Long)].collect().toSet
    out shouldBe Set((1L, 2L)) // own index entry excluded
  }

  test("cap bounds the candidate-join input: hot rows leave the capped index") {
    val docs = ((1 to 20).map(i => (s"d$i", Seq(7L))) :+ ("r", Seq(7L, 8L)))
      .toDF("id", "xs")
    val sh = docs.select(col("id"), explode(col("xs")).as("__sh"))
    val hot = sh.groupBy("__sh").count().filter(col("count") > 10)
    hot.collect().map(_.getLong(0)) shouldBe Array(7L)
    // capped index keeps only the df=1 shingle row
    sh.join(broadcast(hot.select("__sh")), Seq("__sh"), "left_anti")
      .count() shouldBe 1
  }
}
