package graft.queries

import graft.{SparkEntry, SparkSpec}

/** Plan lock for the shared tokenized-corpus layer (VERDICT r9 #1):
  * however many text-family queries run against one (session, corpus
  * dir), the corpus tokenize pass, the 8-gram decontamination index
  * and the bigram-LM per-doc scores each build EXACTLY ONCE — the
  * train-once lifecycle the family's sf3 scaling depends on. Also
  * pins release semantics: after release, the next query rebuilds
  * (no stale-frame reuse across snapshot rotations).
  */
class TextArtifactsSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  // the family members riding each artifact (SparkEntry query names)
  private val tokRiders = Seq("t2_quality", "t8_collocations",
    "t17_source_overlap", "t18_novelty", "t25_ppl_buckets",
    "d9_substring_dedup")
  private val gramRiders = Seq("t11_decontam", "t20_decontam_apply")
  private val lmRiders = Seq("t10_bigram_lm", "t25_ppl_buckets")

  test("token, 8-gram and bigram-LM artifacts each build once per " +
      "(session, dir) across the whole text family") {
    graft.ArtifactRegistry.release(spark, sfDir)
    val (tok0, g0, cab0, lm0) = (TextArtifacts.tokBuilds.get,
      TextArtifacts.gram8Builds.get, TextArtifacts.cabBuilds.get,
      TextArtifacts.lmBuilds.get)
    (tokRiders ++ gramRiders ++ lmRiders).distinct.foreach { q =>
      withClue(s"$q: ") {
        SparkEntry.queries(q)(spark, sfDir).collect()
        ()
      }
    }
    withClue("tokenize pass: ") {
      TextArtifacts.tokBuilds.get - tok0 shouldBe 1 }
    withClue("8-gram decontam index: ") {
      TextArtifacts.gram8Builds.get - g0 shouldBe 1 }
    withClue("bigram counts: ") {
      TextArtifacts.cabBuilds.get - cab0 shouldBe 1 }
    withClue("bigram-LM scores: ") {
      TextArtifacts.lmBuilds.get - lm0 shouldBe 1 }
  }

  test("release retires the bundle; the next query rebuilds instead " +
      "of reusing a rotated snapshot's frames") {
    SparkEntry.queries("t11_decontam")(spark, sfDir).collect()
    val g0 = TextArtifacts.gram8Builds.get
    graft.ArtifactRegistry.release(spark, sfDir)
    SparkEntry.queries("t11_decontam")(spark, sfDir).collect()
    TextArtifacts.gram8Builds.get - g0 shouldBe 1
  }

  test("decontam report and apply agree through the shared index: " +
      "t20's per-source drop counts equal t11's rows at the 5% bar") {
    // Filter on the UNROUNDED ratio (n_contaminated / n_grams), not the
    // rounded contaminated_frac column: t20's drop predicate uses the
    // raw ratio, so comparing against the rounded report column would
    // be a boundary flake for ratios in [0.0499995, 0.05).
    val t11 = SparkEntry.queries("t11_decontam")(spark, "/root/testdata/sf0.01")
      .collect()
      .filter(r => r.getLong(2).toDouble / r.getLong(1) >= 0.05)
      .map(_.getLong(0)).toSet
    val dropped = SparkEntry.queries("t20_decontam_apply")(
      spark, "/root/testdata/sf0.01")
      .collect().map(_.getLong(2)).sum
    dropped shouldBe t11.size.toLong
  }
}
