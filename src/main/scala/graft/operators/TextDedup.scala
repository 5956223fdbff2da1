package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text near-duplicate detection operators (the library surface
  * behind DedupQueries d2-d4). All hashing is md5-derived exact int64
  * arithmetic so results are reproducible across engines and runs —
  * see DedupQueries for the DuckDB-oracle mirror.
  *
  * Scale design: every operator is candidate-generation (inverted
  * index / LSH bands / pigeonhole blocks) → verification; self-joins
  * carry shuffle_hash hints because both sides are index-sized and
  * must never be broadcast (see [[graft.queries.DedupQueries]] d2
  * note).
  */
object TextDedup {

  val P = 2147483647L // 2^31 - 1

  /** word-n-gram shingle hashes, distinct, as int64 in [0, P) — the
    * native one-pass kernel [[graft.functions.ShingleHash]] (same
    * math as the SQL `conv(substring(md5(s),1,15),16,10) % P`
    * pipeline, ~4× faster than the interpreted lambda chain and
    * immune to the filter-pushdown re-inlining of lambda aliases).
    * `wordsCol` names a column holding array<string> words. */
  def shingleHashes(wordsCol: String, n: Int = 3): Column =
    call_function("graft_shingle_hash", col(wordsCol), lit(n))

  /** docs(id, xs: array<long>) → pairs (d1, d2, jaccard) with exact
    * set-Jaccard ≥ threshold.
    *
    * Candidates come from the inverted shingle index (pairs sharing
    * ≥1 shingle); verification is exact Jaccard via
    * `array_intersect` on the per-doc shingle arrays, so no second
    * index join.
    *
    * `maxDf` is the shingle frequency cap: shingles appearing in more
    * than `maxDf` docs (boilerplate) are dropped from CANDIDATE
    * GENERATION only — verification still uses the full sets, so a
    * pair is lost only if ALL its shared shingles are hot. This bounds
    * the candidate join at Σ min(df, maxDf)² instead of Σ df²: at
    * 100 TB one boilerplate shingle (df ~ corpus size) is otherwise a
    * quadratic hot key. The hot-shingle list is ≤ |index| / maxDf
    * entries by construction, hence always broadcastable.
    *
    * The pairs come leased: the lease's `release()` drops the persisted
    * shingle-set table once the pairs have been consumed (or cached),
    * so per-call caches don't accumulate for the session lifetime. */
  def jaccardPairs(docs: DataFrame, idCol: String, xsCol: String,
      threshold: Double, maxDf: Int = Int.MaxValue): graft.Leased = {
    // The set table feeds FOUR consumers (hot list, both self-join
    // sides, the verify lookups); uncached, each one re-scans the
    // text and re-runs the shingle kernel. Persist it once —
    // MEMORY_AND_DISK so oversized corpora spill instead of OOM (the
    // cluster-scale equivalent is materializing the shingle table
    // before the pair stage); the lease releases it.
    val sets = docs.select(col(idCol).as("__id"), col(xsCol).as("__xs"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // Materialize eagerly: the consumers sit on PARALLEL branches of
    // one job, and concurrent stages race to fill the same cache
    // partitions — each racer re-runs the shingle kernel. One small
    // up-front job ends the race.
    sets.count()
    val sh = sets.select(col("__id"), explode(col("__xs")).as("__sh"))
    val capped =
      if (maxDf == Int.MaxValue) sh
      else {
        val hot = sh.groupBy("__sh").agg(count(lit(1)).as("__df"))
          .filter(col("__df") > maxDf).select("__sh")
        sh.join(broadcast(hot), Seq("__sh"), "left_anti")
      }
    val cands = capped.as("a").hint("shuffle_hash")
      .join(capped.as("b").hint("shuffle_hash"),
        col("a.__sh") === col("b.__sh") && col("a.__id") < col("b.__id"))
      .select(col("a.__id").as("d1"), col("b.__id").as("d2"))
      .distinct()
    val pairs = cands
      .join(sets.select(col("__id").as("d1"), col("__xs").as("__xs1")), "d1")
      .join(sets.select(col("__id").as("d2"), col("__xs").as("__xs2")), "d2")
      .withColumn("common", size(array_intersect(col("__xs1"), col("__xs2"))))
      .withColumn("jaccard", graft.QueryPack.fround(col("common").cast("double") /
        (size(col("__xs1")) + size(col("__xs2")) - col("common")), 6))
      .filter(col("jaccard") >= threshold)
      .select(col("d1"), col("d2"), col("jaccard"))
    graft.Leased(pairs, Seq(sets))
  }

  /** MinHash permutation constants (a*x + b) mod P, fixed family —
    * mirrored by the oracle SQL and the native kernel. */
  def minhashPerms(k: Int): Seq[(Long, Long)] =
    (0 until k).map(i => ((2L * i + 1) * 2654435761L % P, (i * 40503L * 65537 + 17) % P))

  /** k-value MinHash signature (array<long>) in ONE pass over the
    * shingle array — native kernel [[graft.functions.MinHashSig]]
    * (vs k separate interpreted array_min(transform) scans). */
  def minhashSig(xsCol: String, k: Int): Column =
    call_function("graft_minhash", col(xsCol), lit(k))

  /** (id, sig, band, key) banded frame — the LSH index layout shared
    * by the self-join and two-sided forms (and the shape a persisted
    * signature index stores). */
  private def bandedFrame(sigs: DataFrame, idCol: String, k: Int, bands: Int): DataFrame = {
    val rows = k / bands
    sigs.select(col(idCol).as("__id"), col("sig"),
      explode(array((0 until bands).map(j =>
        struct(lit(j).as("band"),
          concat_ws("-", (0 until rows).map(r => col("sig").getItem(j * rows + r)): _*)
            .as("key"))): _*))
        .as("bk"))
      .select(col("__id"), col("sig"), col("bk.band"), col("bk.key"))
  }

  /** LSH candidate pairs over a `sig` array column: k values banded
    * into `bands` groups; pairs sharing any band collide. Returns
    * (d1, d2, sig1, sig2). */
  def lshCandidates(sigs: DataFrame, idCol: String, k: Int, bands: Int): DataFrame = {
    val banded = bandedFrame(sigs, idCol, k, bands)
    banded.as("a").hint("shuffle_hash").join(banded.as("b").hint("shuffle_hash"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.__id") < col("b.__id"))
      .select(col("a.__id").as("d1"), col("b.__id").as("d2"),
        col("a.sig").as("sig1"), col("b.sig").as("sig2"))
      .distinct()
  }

  /** Two-sided LSH candidates: a NEW batch of signatures against a
    * PERSISTED corpus index — the incremental production flow ("dedup
    * today's crawl against the existing corpus without recomputing
    * it"). `d1` is always the delta doc, `d2` the index doc; rows
    * with equal ids (re-crawled docs meeting their own index entry)
    * are excluded. Restricted to a corpus split, the result is
    * exactly the cross-side slice of the self-join on the union
    * (pinned in TextDedupSpec).
    *
    * Scale: the banded index frame is what a production pipeline
    * snapshots (id, sig, band, key — bucketable/bucket-joinable by
    * (band, key)); the delta side is typically ≪ the index, but BOTH
    * sides stay shuffle_hash — an index never broadcasts, and a
    * "small" crawl delta at 100 TB corpus scale is still big. */
  def lshCandidatesTwoSided(delta: DataFrame, index: DataFrame,
      idCol: String, k: Int, bands: Int): DataFrame = {
    val da = bandedFrame(delta, idCol, k, bands)
    val ix = bandedFrame(index, idCol, k, bands)
    da.as("a").hint("shuffle_hash").join(ix.as("b").hint("shuffle_hash"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.__id") =!= col("b.__id"))
      .select(col("a.__id").as("d1"), col("b.__id").as("d2"),
        col("a.sig").as("sig1"), col("b.sig").as("sig2"))
      .distinct()
  }

  /** Cross-document repeated-span detection (the substring-level
    * dedup family of "Deduplicating Training Data Makes Language
    * Models Better": long text runs repeated ACROSS documents, which
    * doc-level near-dup misses when the rest of the documents
    * differ). Suffix-array-free approximation over the positional
    * n-gram index:
    *
    *  1. per doc, POSITIONAL n-gram hashes ([[graft.functions
    *     .ShingleSeq]] — one hash per start position, one pass);
    *  2. inverted index on gram hash, hot grams (df > `maxDf` docs —
    *     boilerplate) leave candidate generation via a broadcast
    *     anti-join (the d2 cap: bounds the index self-join at
    *     Σ min(df, maxDf)²);
    *  3. gram matches between doc pairs land on diagonals
    *     (`diag = p1 − p2`); consecutive positions along a diagonal
    *     are gaps-and-islands (`isl = p1 − row_number`), and each
    *     island is a maximal shared run: `span_words = run + n − 1`.
    *
    * Emits (d1, d2, start1, start2, span_words) for spans ≥
    * `minSpanWords`. A hot gram inside a long run splits it into two
    * reported spans — the standard price of the cap; set maxDf above
    * organic df so only true boilerplate is cut.
    *
    * Scale: the only corpus-sized shuffles are the inverted-index
    * self-join (capped, shuffle_hash — never broadcast an index) and
    * the (d1, d2, diag) window, whose key cardinality is ~the match
    * count — no global or low-cardinality funnel anywhere. */
  def repeatedSpans(docs: DataFrame, idCol: String, wordsCol: String,
      n: Int, maxDf: Int, minSpanWords: Int): DataFrame = {
    val grams = docs
      .select(col(idCol).as("__id"),
        posexplode(call_function("graft_shingle_seq", col(wordsCol), lit(n)))
          .as(Seq("__pos", "__g")))
    val hot = grams.groupBy(col("__g"))
      .agg(countDistinct(col("__id")).as("__df"))
      .filter(col("__df") > maxDf).select("__g")
    val capped = grams.join(broadcast(hot), Seq("__g"), "left_anti")
    val matches = capped.as("a").hint("shuffle_hash")
      .join(capped.as("b").hint("shuffle_hash"),
        col("a.__g") === col("b.__g") && col("a.__id") < col("b.__id"))
      .select(col("a.__id").as("d1"), col("b.__id").as("d2"),
        col("a.__pos").as("p1"), col("b.__pos").as("p2"))
    spansFromMatches(matches, n, minSpanWords)
  }

  /** The diagonal-island fold shared by [[repeatedSpans]] and the
    * forget-time span retraction ([[graft.etl.Forget.retractSpans]]):
    * positional gram matches `(d1, d2, p1, p2)` → maximal runs along
    * each diagonal → spans of at least `minSpanWords`. Window is
    * partitioned per (pair, diagonal) — match-set-sized groups, never
    * an unpartitioned sort. */
  private[graft] def spansFromMatches(matches: DataFrame, n: Int,
      minSpanWords: Int): DataFrame = {
    val m = matches.withColumn("diag", col("p1") - col("p2"))
    val wIsl = org.apache.spark.sql.expressions.Window
      .partitionBy(col("d1"), col("d2"), col("diag")).orderBy(col("p1"))
    m.withColumn("isl", col("p1") - row_number().over(wIsl))
      .groupBy(col("d1"), col("d2"), col("diag"), col("isl"))
      .agg(min(col("p1")).as("start1"), min(col("p2")).as("start2"),
        (count(lit(1)) + (n - 1)).as("span_words"))
      .filter(col("span_words") >= minSpanWords)
      .select(col("d1"), col("d2"), col("start1"), col("start2"),
        col("span_words"))
  }

  /** 32-bit SimHash per doc from (doc, word, count) rows. */
  def simhash(wordCounts: DataFrame, idCol: String): DataFrame = {
    val hashed = wordCounts.withColumn("__h",
      expr(s"cast(conv(substring(md5(__w), 1, 15), 16, 10) as bigint) % $P"))
    val bitSums = (0 until 32).map(b =>
      sum(when(expr(s"(__h >> $b) & 1") === 1, col("__cnt")).otherwise(-col("__cnt")))
        .as(s"s$b"))
    val sim = (0 until 32).map(b =>
      when(col(s"s$b") > 0, lit(1L << b)).otherwise(0L)).reduce(_ + _)
    hashed.groupBy(col(idCol)).agg(bitSums.head, bitSums.tail: _*)
      .withColumn("simhash", sim)
      .select(idCol, "simhash")
  }

  /** SimHash near-dup pairs with hamming ≤ maxHamming via pigeonhole
    * blocks (nBlocks × blockBits must cover 32 bits; hd ≤ nBlocks-1
    * ⇒ at least one block equal).
    *
    * Dense-bucket guard (hd=0 pre-collapse): the block self-join runs
    * over DISTINCT signatures, not docs. On a near-identical corpus a
    * block bucket holds b docs but only v ≪ b distinct signatures, so
    * the join costs v²/2 per bucket instead of b²/2 (and skips the 4×
    * duplicate candidates + doc-pair distinct). Docs sharing a
    * signature pair off directly with hamming 0, and cross-signature
    * pairs expand through two membership joins — both output-bounded,
    * so the only remaining quadratic is genuine result size.
    *
    * Leased like [[jaccardPairs]]: `release()` drops the persisted
    * signature projection. */
  def simhashPairs(simhashes: DataFrame, idCol: String, maxHamming: Int,
      nBlocks: Int = 4, splitThreshold: Int = 256): graft.Leased = {
    require(maxHamming < nBlocks, "pigeonhole needs maxHamming < nBlocks")
    val blockBits = 32 / nBlocks
    val mask = (1 << blockBits) - 1
    // sigs feeds five consumers (distinct, intra ×2, expansion ×2);
    // persist so the upstream simhash aggregation runs once.
    val sigs = simhashes.select(col(idCol).as("__id"), col("simhash"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // Eager materialization — see jaccardPairs: parallel consumers
    // otherwise race to fill the cache, re-running the simhash agg.
    sigs.count()
    val blocked = sigs.select("simhash").distinct().select(col("simhash"),
      explode(array((0 until nBlocks).map(j =>
        struct(lit(j).as("blk"),
          expr(s"(simhash >> ${j * blockBits}) & $mask").as("key"))): _*)).as("bk"))
      .select(col("simhash"), col("bk.blk"), col("bk.key"))
    // Oversized-bucket split: buckets holding > splitThreshold distinct
    // sigs re-key by a secondary block over the OTHER 32-blockBits
    // bits, cut into maxHamming+1 sub-blocks — given the primary block
    // equal, ≤ maxHamming diffs remain, so pigeonhole again guarantees
    // an equal sub-block. The bucket-size table is bounded by the key
    // space (nBlocks × 2^blockBits rows), hence always broadcastable;
    // sigs in normal buckets carry a single (-1,-1) sentinel sub-key,
    // so the index only grows where density demands it.
    val remBits = 32 - blockBits
    val sBlocks = maxHamming + 1
    val sBits = math.max(1, remBits / sBlocks)
    val rem = s"((simhash >> ((blk+1)*$blockBits)) << (blk*$blockBits)) | " +
      s"(simhash & ((cast(1 as bigint) << (blk*$blockBits)) - 1))"
    val subKeys = array((0 until sBlocks).map { m =>
      val width = if (m == sBlocks - 1) remBits - m * sBits else sBits
      val mask2 = (1L << width) - 1
      struct(lit(m).as("m"), expr(s"(($rem) >> ${m * sBits}) & $mask2").as("key2"))
    }: _*)
    val sizes = blocked.groupBy("blk", "key").agg(count(lit(1)).as("__bsz"))
    val refined = blocked.join(broadcast(sizes), Seq("blk", "key"))
      .select(col("simhash"), col("blk"), col("key"),
        explode(when(col("__bsz") > splitThreshold, subKeys)
          .otherwise(array(struct(lit(-1).as("m"), lit(-1L).as("key2"))))).as("sk"))
      .select(col("simhash"), col("blk"), col("key"),
        col("sk.m").as("m"), col("sk.key2").as("key2"))
    val sigPairs = refined.as("a").hint("shuffle_hash")
      .join(refined.as("b").hint("shuffle_hash"),
        col("a.blk") === col("b.blk") && col("a.key") === col("b.key") &&
          col("a.m") === col("b.m") && col("a.key2") === col("b.key2") &&
          col("a.simhash") < col("b.simhash"))
      .select(col("a.simhash").as("__s1"), col("b.simhash").as("__s2"),
        expr("bit_count(a.simhash ^ b.simhash)").cast("long").as("hamming"))
      // hamming-filter BEFORE the dedup: bit_count is a cheap map-side
      // expression, so the distinct shuffles only survivors, not every
      // candidate collision.
      .filter(col("hamming") <= maxHamming)
      .distinct()
    val cross = sigPairs
      .join(sigs.select(col("__id").as("__ida"), col("simhash").as("__s1"))
        .hint("shuffle_hash"), "__s1")
      .join(sigs.select(col("__id").as("__idb"), col("simhash").as("__s2"))
        .hint("shuffle_hash"), "__s2")
      .select(least(col("__ida"), col("__idb")).as("d1"),
        greatest(col("__ida"), col("__idb")).as("d2"), col("hamming"))
    val intra = sigs.as("a").hint("shuffle_hash")
      .join(sigs.as("b").hint("shuffle_hash"),
        col("a.simhash") === col("b.simhash") && col("a.__id") < col("b.__id"))
      .select(col("a.__id").as("d1"), col("b.__id").as("d2"),
        lit(0L).as("hamming"))
    graft.Leased(cross.union(intra), Seq(sigs))
  }
}
