package graft.queries

import graft.{SparkSpec, SparkEntry}
import org.apache.spark.sql.functions._

/** b1_corpus_build composes stages that are each oracle-gated on
  * their own (t12 rates, t13 sampling, t20 decontam, d3/d6 dedup,
  * t14 packing). The composition must AGREE with the pieces — these
  * are the per-stage reconciliation checks the VERDICT prescribes,
  * plus the conservation identity that every sampled doc is
  * accounted for exactly once (contaminated, duplicate, or kept). */
class BuildQueriesSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.01"

  private lazy val b1 =
    SparkEntry.queries("b1_corpus_build")(spark, dir).collect()
      .map(r => r.getString(0) -> r).toMap

  test("sample_rate column IS t12's published rate, per source") {
    val t12 = SparkEntry.queries("t12_mix_weights")(spark, dir)
      .select(col("source"), col("sample_rate")).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    // b1 rows cover sources WITH train docs; on this corpus source =
    // f(doc_id % 20), so the bench split (doc_id % 10 = 7) owns src7
    // and src17 outright and they rightly have no manifest row
    b1.keySet shouldBe t12.keySet -- Set("src7", "src17")
    for ((src, row) <- b1)
      withClue(s"$src: ") { row.getDouble(3) shouldBe t12(src) }
  }

  test("decontam stage drops exactly t20's drop set restricted to " +
      "the sampled docs") {
    val bad = TextQueries.decontamDropIds(spark, dir)
      .collect().map(_.getLong(0)).toSet
    // recompute the sampled train ids with b1's own predicate pieces
    val rates = SparkEntry.queries("t12_mix_weights")(spark, dir)
      .select(col("source"), col("sample_rate"))
    val sampled = TextArtifacts.toks(spark, dir)
      .filter(col("doc_id") % 10 =!= 7)
      .join(rates, Seq("source"))
      .filter(expr(
        "cast(conv(substring(md5(cast(doc_id as string)), 1, 15), 16, 10) " +
          "as double) / 1152921504606846976.0") < col("sample_rate"))
      .select(col("source"), col("doc_id")).collect()
    val wantPerSource = sampled.groupBy(_.getString(0))
      .view.mapValues(_.count(r => bad(r.getLong(1)))).toMap
    for ((src, row) <- b1) withClue(s"$src: ") {
      row.getLong(6) shouldBe wantPerSource.getOrElse(src, 0).toLong
    }
  }

  test("conservation: docs_sampled = contaminated + duplicate + kept; " +
      "token mass and sequence count are exact") {
    b1 should not be empty
    for ((src, r) <- b1) withClue(s"$src: ") {
      val (docsIn, docsSampled) = (r.getLong(1), r.getLong(4))
      val (nContam, nDup, docsOut) = (r.getLong(6), r.getLong(7), r.getLong(8))
      docsSampled shouldBe nContam + nDup + docsOut
      docsSampled should be <= docsIn
      r.getLong(9) should be <= r.getLong(5) // tokens_out <= tokens_sampled
      r.getLong(10) shouldBe (r.getLong(9) + 511) / 512 // n_sequences
    }
    // the build must actually exercise every stage on this corpus
    b1.values.map(_.getLong(6)).sum should be > 0L // decontam fired
    b1.values.map(_.getLong(7)).sum should be > 0L // dedup fired
    b1.values.map(_.getLong(4)).sum should be > 0L // sampler kept docs
  }

  test("b2: conservation — every sampled arrival is contaminated, " +
      "an index dup, a batch dup, or admitted; rates are t12's") {
    val t12 = SparkEntry.queries("t12_mix_weights")(spark, dir)
      .select(col("source"), col("sample_rate")).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    val b2 = SparkEntry.queries("b2_corpus_delta")(spark, dir).collect()
    b2 should not be empty
    for (r <- b2) withClue(s"${r.getString(0)}: ") {
      r.getDouble(3) shouldBe t12(r.getString(0))
      // docs_sampled = contaminated + dup_index + dup_batch + admitted
      r.getLong(4) shouldBe
        r.getLong(5) + r.getLong(6) + r.getLong(7) + r.getLong(8)
      r.getLong(4) should be <= r.getLong(1)
    }
  }

  test("b2: the index-dup drop set is exactly the d10-style two-sided " +
      "probe's arrivals, and the stage demonstrably fires at sf0.1") {
    val big = "/root/testdata/sf0.1"
    val dupIds = DedupQueries.deltaIndexDupIds(spark, big)
      .collect().map(_.getLong(0)).toSet
    dupIds.size should be > 0 // the probe finds real planted dups
    // every dropped id is an arrival by the split definition
    val arr = graft.Tables(spark, big, "documents")
      .filter(DedupQueries.isDeltaArrival(col("doc_id")))
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    dupIds.subsetOf(arr) shouldBe true
    // and the manifest's docs_dup_index totals the sampled-and-clean
    // members of that set (recomputed with b2's own predicate pieces)
    val rates = SparkEntry.queries("t12_mix_weights")(spark, big)
      .select(col("source"), col("sample_rate"))
    val bad = TextQueries.decontamDropIds(spark, big)
      .collect().map(_.getLong(0)).toSet
    val sampledClean = TextArtifacts.toks(spark, big)
      .filter(DedupQueries.isDeltaArrival(col("doc_id")))
      .join(rates, Seq("source"))
      .filter(expr(
        "cast(conv(substring(md5(cast(doc_id as string)), 1, 15), 16, 10) " +
          "as double) / 1152921504606846976.0") < col("sample_rate"))
      .select(col("doc_id")).collect().map(_.getLong(0))
      .filterNot(bad).toSet
    val want = (sampledClean & dupIds).size.toLong
    val b2 = SparkEntry.queries("b2_corpus_delta")(spark, big).collect()
    b2.map(_.getLong(6)).sum shouldBe want
    withClue("the index-dup stage should fire on this corpus: ") {
      want should be > 0L
    }
  }

  test("dedup stage keeps at most one survivor per d6 cluster, and " +
      "the survivor is the smallest sampled-and-clean member") {
    val clusters = graft.operators.ConnectedComponents
      .run(DedupQueries.d3Pairs(spark, dir), "d1", "d2",
        graft.Tables(spark, dir, "documents").select(col("doc_id")),
        "doc_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val bad = TextQueries.decontamDropIds(spark, dir)
      .collect().map(_.getLong(0)).toSet
    val rates = SparkEntry.queries("t12_mix_weights")(spark, dir)
      .select(col("source"), col("sample_rate"))
    val clean = TextArtifacts.toks(spark, dir)
      .filter(col("doc_id") % 10 =!= 7)
      .join(rates, Seq("source"))
      .filter(expr(
        "cast(conv(substring(md5(cast(doc_id as string)), 1, 15), 16, 10) " +
          "as double) / 1152921504606846976.0") < col("sample_rate"))
      .select(col("doc_id")).collect().map(_.getLong(0))
      .filterNot(bad).toSet
    val keepers = clean.groupBy(clusters).values.map(_.min).toSet
    val wantOut = keepers.size.toLong
    b1.values.map(_.getLong(8)).sum shouldBe wantOut
    b1.values.map(_.getLong(7)).sum shouldBe (clean.size - keepers.size).toLong
  }

  test("b3: the REALIZED t14 packing over b1's kept set reconciles " +
      "with the manifest's ceil-div arithmetic, per source") {
    val b3 = SparkEntry.queries("b3_packing_manifest")(spark, dir)
      .collect().map(r => r.getString(0) -> r).toMap
    // every source with kept docs has a packing row, and none other
    b3.keySet shouldBe b1.filter(_._2.getLong(8) > 0).keySet
    for ((src, r) <- b3) withClue(s"$src: ") {
      val (docsPacked, tokensPacked) = (r.getLong(1), r.getLong(2))
      val (nSeq, boundaryDocs, lastFill) =
        (r.getLong(3), r.getLong(4), r.getLong(5))
      // the packed set IS the kept set
      docsPacked shouldBe b1(src).getLong(8)
      tokensPacked shouldBe b1(src).getLong(9)
      // THE reconciliation: realized sequence count (position of the
      // last token in the concat-and-chunk layout) equals the
      // manifest's exact integer arithmetic
      nSeq shouldBe b1(src).getLong(10)
      nSeq shouldBe (tokensPacked + 511) / 512
      // realized-layout sanity: the last sequence holds the remainder
      lastFill shouldBe (tokensPacked - (nSeq - 1) * 512)
      lastFill should be > 0L
      lastFill should be <= 512L
      // every full boundary between sequence i and i+1 is crossed by
      // at most one doc, so boundary docs < sequence count
      boundaryDocs should be < nSeq
    }
  }

  test("b4: the fold APPENDS the arrival signatures to the durable " +
      "index exactly once; a fresh session attaches to the folded state") {
    // sf0.1: the only SF whose arrival batch carries index dups —
    // at sf0.01 the evidence sets are empty and the gate is vacuous
    val dir = "/root/testdata/sf0.1"
    val arrP = DedupQueries.isDeltaArrival(col("doc_id"))
    // run the fold (builds the three durable tables on first touch)
    val labels1 = SparkEntry.queries("b4_index_fold")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    val sigsTable = BuildQueries.foldSigsTableName(dir)
    spark.catalog.tableExists(sigsTable) shouldBe true

    // post-fold signature index covers everything SEEN: the ingested
    // index PLUS the arrival batch — the base the next delta probes
    val sigRows = spark.table(sigsTable)
    val nArr = sigRows.filter(arrP).count()
    val nIdx = sigRows.filter(!arrP).count()
    nArr should be > 0L
    val docs = graft.Tables(spark, dir, "documents")
      .filter(col("doc_id") % 10 =!= 7)
      .filter(expr("size(split(text, ' ')) >= 3")) // sig min length
    nArr shouldBe docs.filter(arrP).count()
    nIdx shouldBe docs.filter(!arrP).count()

    // idempotence: re-running the fold in THIS session (registry hit)
    // and in a FRESH session (attach path) never double-appends
    SparkEntry.queries("b4_index_fold")(spark, dir).count()
    val s2 = spark.newSession()
    val labels2 = BuildQueries.foldLabels(s2, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    labels2 shouldBe labels1
    spark.table(sigsTable).count() shouldBe (nArr + nIdx)

    // the folded labels agree with the d3-pair ground truth on the
    // same universe: near-dup arrival↔index pairs share a cluster
    val lbl = labels1.toMap
    val idxPairs = DedupQueries.deltaIdxPairsArtifact(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    idxPairs.length should be > 0
    idxPairs.foreach { case (a, b) =>
      withClue(s"pair ($a,$b): ") { lbl(a) shouldBe lbl(b) }
    }
    graft.ArtifactRegistry.release(s2, dir)
    graft.ArtifactRegistry.release(spark, dir)
  }
}
