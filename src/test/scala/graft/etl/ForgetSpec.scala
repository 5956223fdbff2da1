package graft.etl

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** [[Forget.retractLabels]] — deleting keyed nodes from a cluster-
  * label view must equal a full CC rebuild on the surviving subgraph,
  * while recomputing ONLY components that lost a member; plus the
  * snapshot-retire Maintenance hook. */
class ForgetSpec extends SparkSpec {
  import spark.implicits._

  // A graph exercising every retraction case:
  //  - chain 1-2-3 where 2 is a BRIDGE: forgetting 2 splits {1,3}
  //  - cluster {10,11,12} (star on 10) where 10 is the MIN-ID rep:
  //    forgetting 10 relabels to 11 (edges 11-12 survive via 10? no —
  //    star edges die with 10, so 11 and 12 split too unless directly
  //    linked; include the 11-12 edge so they stay one cluster)
  //  - cluster {20,21} untouched: rows must carry over verbatim
  //  - singleton 30 untouched; singleton 31 forgotten outright
  private val edges = Seq(
    (1L, 2L), (2L, 3L),
    (10L, 11L), (10L, 12L), (11L, 12L),
    (20L, 21L)).toDF("d1", "d2")
  private val nodes =
    Seq(1L, 2L, 3L, 10L, 11L, 12L, 20L, 21L, 30L, 31L).toDF("doc_id")

  private def labelsOf(ns: Seq[Long], es: Seq[(Long, Long)]) =
    graft.operators.ConnectedComponents
      .run(es.toDF("d1", "d2"), "d1", "d2", ns.toDF("doc_id"), "doc_id")
      .select(col("id").as("doc_id"), col("cluster"))

  test("retraction equals a full rebuild on the surviving subgraph") {
    val labels = labelsOf(Seq(1, 2, 3, 10, 11, 12, 20, 21, 30, 31),
      Seq((1L, 2L), (2L, 3L), (10L, 11L), (10L, 12L), (11L, 12L), (20L, 21L)))
    val forget = Seq(2L, 10L, 31L).toDF("doc_id")
    // surviving pair evidence: edges with a forgotten endpoint die
    val survEdges = edges
      .filter(!col("d1").isin(2L, 10L, 31L) && !col("d2").isin(2L, 10L, 31L))
    val got = Forget.retractLabels(labels, survEdges, forget)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    got shouldBe Map(
      1L -> 1L, 3L -> 3L,      // bridge forgotten -> component splits
      11L -> 11L, 12L -> 11L,  // min-id rep forgotten -> relabel to 11
      20L -> 20L, 21L -> 20L,  // untouched component, labels verbatim
      30L -> 30L)              // untouched singleton; 31 gone
    // full-rebuild equality (the b5 oracle identity, asserted locally)
    val rebuild = labelsOf(Seq(1, 3, 11, 12, 20, 21, 30),
      Seq((11L, 12L), (20L, 21L)))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    got shouldBe rebuild
  }

  test("untouched components never enter the recompute leg") {
    val labels = labelsOf(Seq(1, 2, 3, 20, 21),
      Seq((1L, 2L), (2L, 3L), (20L, 21L)))
    val forget = Seq(2L).toDF("doc_id")
    // hand the retraction POISONED evidence for untouched components:
    // if the pruning ever let {20,21} into the CC leg, this edge would
    // merge them with 1 and flip their labels — the q37 "affected
    // groups only" contract, tested by contradiction
    val poisoned = Seq((1L, 20L)).toDF("d1", "d2")
    val got = Forget.retractLabels(labels, poisoned, forget)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    got(20L) shouldBe 20L
    got(21L) shouldBe 20L
    got(1L) shouldBe 1L
    got(3L) shouldBe 3L
  }

  test("forgetting nothing returns the view unchanged") {
    val labels = labelsOf(Seq(1, 2, 3), Seq((1L, 2L)))
    val got = Forget.retractLabels(labels, edges,
      spark.emptyDataset[Long].toDF("doc_id"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    got shouldBe Map(1L -> 1L, 2L -> 1L, 3L -> 3L)
  }

  test("forgetting UN-SEES: a near-dup of a forgotten doc is admitted " +
      "once the streaming probe reseeds from the post-forget snapshot") {
    // The cascade's streaming edge: admission dedups against what was
    // SEEN, and a forget request must un-see — LSH state seeded from
    // the pre-forget index would keep suppressing near-dups of a doc
    // the pipeline is legally required to have deleted.
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val text = "alpha beta gamma delta epsilon zeta eta theta " * 4
    val index = Seq((100L, text), (200L, "totally unrelated words " * 8))
      .toDF("doc_id", "text")
    val arrival = (7003L, "srcA", text) // 16/16 signature match with 100

    def hitsAgainst(seed: org.apache.spark.sql.DataFrame): Set[Long] = {
      val in = MemoryStream[(Long, String, String)]
      val q = graft.streaming.StreamingAdmission
        .dupHits(in.toDF().toDF("doc_id", "source", "text"), seed)
        .writeStream.format("memory")
        .queryName(s"forget_reseed_${System.nanoTime()}")
        .outputMode("append").start()
      try {
        in.addData(arrival)
        q.processAllAvailable()
        spark.table(q.name).select(col("d1")).collect()
          .map(_.getLong(0)).toSet
      } finally q.stop()
    }

    // pre-forget seeds: the redelivery is suppressed as an index dup
    hitsAgainst(index) shouldBe Set(7003L)
    // post-forget seeds (index minus the forgotten doc): admitted
    hitsAgainst(index.filter(col("doc_id") =!= 100L)) shouldBe Set.empty
  }

  // ---- round 17: the cascade's remaining derivatives ----

  test("retractBigramLm equals a from-scratch retrain on the survivors, " +
      "and docs off every changed context carry over VERBATIM") {
    // doc 1/2 share context word "x"; doc 3 (forgotten) also uses "x"
    // → 1 and 2 must rescore. doc 4 shares NO context word with doc 3
    // → its row must carry over untouched (proved by poisoning it).
    val docs = Seq(
      (1L, "x a x b"), (2L, "x a y"), (3L, "x b z"), (4L, "q r q s"))
      .toDF("doc_id", "text")
    def biOf(d: org.apache.spark.sql.DataFrame) = d
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .filter(org.apache.spark.sql.functions.size(col("w")) >= 2)
      .select(col("doc_id"), posexplode(expr(
        "transform(sequence(0, size(w) - 2), i -> struct(w[i] AS a, w[i+1] AS b))"))
        .as(Seq("pos", "g")))
      .select(col("doc_id"), col("pos"), col("g.a").as("a"), col("g.b").as("b"))
    val bi = biOf(docs)
    val cab = bi.groupBy(col("a"), col("b")).agg(count(lit(1)).as("cab"))
    val ca = bi.groupBy(col("a")).agg(count(lit(1)).as("ca"))
    val lmTrue = graft.queries.TextArtifacts.lmScore(bi, cab, ca)
    // poison doc 4's row: retraction must NOT recompute it
    val poison = when(col("doc_id") === 4L, lit(-777L)).otherwise(col("sumpf"))
    val lmPre = lmTrue.withColumn("sumpf", poison)
    val forget = Seq(3L).toDF("doc_id")
    val got = Forget.retractBigramLm(bi, cab, lmPre, forget)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // ground truth: full retrain on survivors
    val survDocs = docs.filter(col("doc_id") =!= 3L)
    val biS = biOf(survDocs)
    val cabS = biS.groupBy(col("a"), col("b")).agg(count(lit(1)).as("cab"))
    val caS = biS.groupBy(col("a")).agg(count(lit(1)).as("ca"))
    val want = graft.queries.TextArtifacts.lmScore(biS, cabS, caS)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    got.keySet shouldBe Set(1L, 2L, 4L)
    got(1L) shouldBe want(1L)
    got(2L) shouldBe want(2L)
    // the carried row kept its poisoned value (never rescored) while a
    // genuine retrain computes the true one — and doc 4's TRUE score is
    // unchanged by the deletion, which is exactly why the carry is sound
    got(4L)._2 shouldBe -777L
    want(4L)._1 shouldBe got(4L)._1
  }

  test("retractSpans equals a from-scratch re-mine: dead pairs drop, " +
      "untouched pairs carry verbatim, and a newly-UNCAPPED gram's " +
      "spans appear") {
    val n = 3; val maxDf = 2; val minSpan = 5
    val P = "p1 p2 p3 p4 p5"   // shared by A(1),B(2),C(3): df 3 > cap
    val Q = "q1 q2 q3 q4 q5 q6" // shared by D(4),E(5): a live span
    val R = "r1 r2 r3 r4 r5"    // shared by C(3),D(4): dies with C
    val docs = Seq(
      (1L, s"fa1 fa2 $P fa3"),
      (2L, s"fb1 $P fb2 fb3"),
      (3L, s"fc1 $P $R fc2"),
      (4L, s"fd1 $Q $R fd2"),
      (5L, s"fe1 fe2 $Q fe3"))
      .toDF("doc_id", "text")
      .select(col("doc_id"), split(col("text"), " ").as("w"))
    def mine(d: org.apache.spark.sql.DataFrame) =
      graft.operators.TextDedup.repeatedSpans(d, "doc_id", "w",
        n = n, maxDf = maxDf, minSpanWords = minSpan)
    val spansPre = mine(docs)
    // sanity on the construction: pre-forget has (4,5) via Q and (3,4)
    // via R, and NOT (1,2) — P's grams are capped at df 3
    spansPre.select(col("d1"), col("d2")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet shouldBe
      Set((4L, 5L), (3L, 4L))
    val forget = Seq(3L).toDF("doc_id")
    val key = (d: org.apache.spark.sql.DataFrame) => d.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3), r.getLong(4)))
      .toSet
    val got = Forget.retractSpans(docs, "doc_id", "w", spansPre, forget,
      n = n, maxDf = maxDf, minSpanWords = minSpan)(_.localCheckpoint())
    val want = mine(docs.filter(col("doc_id") =!= 3L))
    key(got) shouldBe key(want)
    // the identity is not vacuous: the uncapped (1,2) span APPEARED and
    // the forgotten pair died
    key(want).map(t => (t._1, t._2)) shouldBe Set((1L, 2L), (4L, 5L))
    // untouched pairs carry VERBATIM (never re-mined): poison the
    // (4,5) row and it must flow through unchanged
    val poisoned = spansPre.withColumn("span_words",
      when(col("d1") === 4L, lit(999L)).otherwise(col("span_words")))
    val got2 = Forget.retractSpans(docs, "doc_id", "w", poisoned, forget,
      n = n, maxDf = maxDf, minSpanWords = minSpan)(_.localCheckpoint())
    got2.filter(col("d1") === 4L).select(col("span_words"))
      .collect().map(_.getLong(0)).toSet shouldBe Set(999L)
  }

  test("scrubPartitioned rewrites ONLY partitions holding a forgotten " +
      "key, empties an all-forgotten partition, and leaves the rest " +
      "byte-identical") {
    import org.apache.hadoop.fs.Path
    val dir = java.nio.file.Files.createTempDirectory("graft-scrub").toString
    Seq((1L, "s1", "keep1"), (2L, "s1", "drop2"),
      (3L, "s2", "keep3"), (4L, "s2", "keep4"),
      (5L, "s3", "drop5"))
      .toDF("doc_id", "source", "text")
      .repartition(col("source"))
      .write.mode("overwrite").partitionBy("source").parquet(dir)
    val fs = new Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def filesOf(leaf: String) = fs.listStatus(new Path(dir, leaf))
      .filter(f => f.isFile && !f.getPath.getName.startsWith("_") &&
        !f.getPath.getName.startsWith("."))
      .map(f => (f.getPath.getName, f.getModificationTime, f.getLen)).toSet
    val s2Before = filesOf("source=s2")
    val rep = CorpusLayout.scrubPartitioned(spark, dir,
      Seq("source"), Seq("doc_id"), maxRecordsPerFile = 1 << 20,
      forget = Seq(2L, 5L).toDF("doc_id"), idCol = "doc_id")
    // only the two hit partitions swapped; s2 was never touched
    rep.partitions.map(_.dir).toSet shouldBe
      Set("source=s1", "source=s3")
    rep.skipped shouldBe 1
    filesOf("source=s2") shouldBe s2Before
    // the all-forgotten partition is now EMPTY (zero staged files)
    rep.partitions.find(_.dir == "source=s3").get.after shouldBe 0
    filesOf("source=s3") shouldBe empty
    // the tree serves exactly the survivors
    spark.read.parquet(dir).select(col("doc_id"))
      .collect().map(_.getLong(0)).toSet shouldBe Set(1L, 3L, 4L)
    // idempotent: a second scrub finds nothing to rewrite
    CorpusLayout.scrubPartitioned(spark, dir, Seq("source"),
      Seq("doc_id"), 1 << 20, Seq(2L, 5L).toDF("doc_id"), "doc_id")
      .partitions shouldBe empty
  }

  test("scrubPartitioned FAILS LOUDLY when a hit partition's value " +
      "doesn't round-trip its directory encoding — never a silent " +
      "non-deletion") {
    val dir = java.nio.file.Files.createTempDirectory("graft-scrub-esc").toString
    // ':' URI-escapes in the partition directory name (source=a%3Ab),
    // so the decoded value can't be matched back naively — the guard
    // must throw instead of reporting the partition as 'skipped'
    Seq((1L, "a:b", "x"), (2L, "ok", "y"))
      .toDF("doc_id", "source", "text")
      .repartition(col("source"))
      .write.mode("overwrite").partitionBy("source").parquet(dir)
    val ex = intercept[java.io.IOException] {
      CorpusLayout.scrubPartitioned(spark, dir, Seq("source"),
        Seq("doc_id"), 1 << 20, Seq(1L).toDF("doc_id"), "doc_id")
    }
    ex.getMessage should include("round-trip")
    // the tree is untouched (no partial scrub)
    spark.read.parquet(dir).count() shouldBe 2L
  }

  test("a post-forget attach serves NO forgotten doc_id on any " +
      "derivative surface, and the serving scrub was selective and real") {
    val dir = "/root/testdata/sf0.001"
    val forgotten = graft.queries.BuildQueries.forgetBatch(spark, dir)
      .collect().map(_.getLong(0)).toSet
    forgotten should not be empty
    // the scrubbed serving tree on DISK: no forgotten id survives a
    // reader, and the scrub's own report shows a REAL selective swap
    // (it rewrote the partitions holding forgotten docs, not the tree)
    val (path, report) = graft.queries.BuildQueries
      .scrubbedServing(spark, dir)
    report.partitions should not be empty
    val servedIds = spark.read.option("basePath", path).parquet(path)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    servedIds.intersect(forgotten) shouldBe empty
    // the post-forget LM attach (retracted model): no forgotten doc is
    // scored, and the row count is exactly the scorable survivors
    val lmIds = graft.queries.BuildQueries.lmPostForget(spark, dir)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    lmIds.intersect(forgotten) shouldBe empty
    // and the surfaces agree on the surviving universe: every scored
    // non-bench doc is served (scoring needs >= 2 words, so the
    // containment — not equality — is the invariant)
    lmIds should not be empty
    (lmIds.filter(_ % 10 != 7) -- servedIds) shouldBe empty
  }

  test("the pre-forget snapshot retires through the Maintenance artifact hook") {
    // the b5 lifecycle's final step: consumers switch to the post-
    // forget tables, then the OLD snapshot's managed-table trees drop
    // through Maintenance.run — by path, exactly how retired serving
    // copies go
    val t = s"graft_forgetspec_old_${System.nanoTime()}"
    DurableArtifacts.bucketedTable(spark, t, 2,
      Seq("doc_id"), Seq("doc_id")) {
      Seq((1L, 1L), (2L, 1L)).toDF("doc_id", "cluster")
    }.count() shouldBe 2L
    val loc = CorpusLayout.managedTablePath(spark, t)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(loc) shouldBe true
    val r = Maintenance.run(spark, retiredArtifacts = Seq(loc.toString))
    r.artifactsDropped shouldBe Seq(loc.toString)
    fs.exists(loc) shouldBe false
    // the catalog entry goes with it (a fresh build-or-attach must
    // BUILD, not attach to a dangling location)
    spark.sql(s"DROP TABLE IF EXISTS `$t`")
  }
}
