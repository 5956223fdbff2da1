package graft.etl

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{ConnectedComponents, TextDedup}

/** The end-to-end corpus-curation pipeline a pretraining run executes,
  * composed from the library's own operators — normalization, a
  * language gate, a quality gate, exact dedup, MinHash+LSH near-dup
  * clustering with canonical-survivor selection — returning the
  * curated corpus plus the per-stage attrition report every curation
  * run logs.
  *
  * Every stage is the operator documented elsewhere (t7's normalizer,
  * t1's stopword-density language ID, d1's exact-hash dedup, d3's
  * signature pipeline, d6's components); this object only wires them,
  * so the composition inherits each stage's scale story. The stage
  * counts are driver scalars (one count() per stage — the run report,
  * not a data collect).
  */
object Curation {

  /** Shared normalization (t7): lowercase, strip non-alnum, collapse
    * spaces — the SAME expression backs batch curation and the
    * streaming ingest gate, so both agree on what "identical" means.
    * Runs through the native `graft_norm` kernel (one Unicode-lower +
    * one byte scan) instead of two regex-engine passes — byte-
    * identical to `trim(regexp_replace(regexp_replace(lower(s),
    * '[^a-z0-9 ]', ''), ' +', ' '))`, the form the DuckDB oracles
    * still spell out (NormTextSpec differential lock). */
  def normalize(text: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    call_function("graft_norm", text)

  private val stopList = Seq("the", "a", "of", "and", "to", "in", "is", "it")

  /** Language gate (t1 heuristic) over a `w` array<string> column:
    * English function-word density ≥ `minStopRatio`. Counting runs
    * through the native `graft_count_in` kernel (the lambda form
    * `size(filter(w, x -> x='the' OR ...))` evaluates interpreted
    * per element — the m3/d3/t5 pitfall). */
  def langGateOk(minStopRatio: Double): org.apache.spark.sql.Column =
    call_function("graft_count_in", col("w"),
      array(stopList.map(lit): _*)).cast("double") /
      size(col("w")) >= minStopRatio

  /** One stage's surviving document count (the attrition ledger c1
    * reports). */
  final case class StageCount(stage: String, docs: Long)

  final case class Result(curated: DataFrame, report: Seq[StageCount]) {
    /** Drop the cached curated corpus once consumed (the upstream
      * stage caches are already released incrementally inside [[run]];
      * this frees the last one, so a long-lived service holds no
      * blocks between pipeline runs). `curated` stays evaluable —
      * it just recomputes if acted on again. */
    def release(): Unit = curated.unpersist(blocking = true)
  }

  /** docs(idCol: long, textCol: string) → curated docs (id, text,
    * norm) + attrition report. */
  def run(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text",
      minStopRatio: Double = 0.05, minWords: Int = 10,
      minhashK: Int = 16, bands: Int = 4, minSigMatches: Int = 12): Result = {
    val report = Seq.newBuilder[StageCount]
    // Each stage materializes (persist + count) before the next reads
    // it: the attrition count is the stage barrier anyway, and without
    // it every later stage re-runs the whole upstream pipeline per
    // action — the local analog of how a production run checkpoints
    // stage outputs to storage between phases. Once a stage is
    // materialized, the caches it consumed (`drop`) are dead — every
    // later reference reads THIS stage's cache — so they are released
    // immediately: peak cache footprint is two stages, not the whole
    // pipeline, and nothing but the final corpus outlives the run.
    def stage(name: String, df: DataFrame, drop: DataFrame*): DataFrame = {
      val p = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      report += StageCount(name, p.count())
      drop.foreach(_.unpersist(blocking = false))
      p
    }

    val base = stage("input", docs.select(col(idCol).as("id"),
      col(textCol).as("text")))

    // 1. normalize (t7): lowercase, strip non-alnum, collapse spaces
    val normed = base.withColumn("norm", normalize(col("text")))

    // 2. language gate (t1 heuristic): English function-word density
    val lang = stage("lang_gate", normed
      .withColumn("w", split(col("norm"), " "))
      .filter(langGateOk(minStopRatio)), base)

    // 3. quality gate (t2 family): minimum length
    val quality = stage("quality_gate",
      lang.filter(size(col("w")) >= minWords), lang)

    // 4. exact dedup (d1/t4): keep the min id per normalized hash
    val exactKept = quality
      .withColumn("nfp", md5(col("norm")))
      .withColumn("__keep", min(col("id"))
        .over(org.apache.spark.sql.expressions.Window.partitionBy(col("nfp"))))
      .filter(col("id") === col("__keep"))
      .drop("nfp", "__keep")
    val exact = stage("exact_dedup", exactKept, quality)

    // 5. near-dup clusters (d3 + d6): LSH candidates → signature
    //    agreement → connected components → cluster reps survive
    val sigs = exact
      .withColumn("xs", TextDedup.shingleHashes("w", 3))
      .filter(size(col("xs")) > 0)
      .select(col("id"), TextDedup.minhashSig("xs", minhashK).as("sig"))
    val pairs = TextDedup.lshCandidates(sigs, "id", minhashK, bands)
      .withColumn("m",
        call_function("graft_sig_matches", col("sig1"), col("sig2")))
      .filter(col("m") >= minSigMatches)
      .select(col("d1"), col("d2"))
    val clusters = ConnectedComponents.run(pairs, "d1", "d2", exact, "id")
    val curated = stage("near_dedup", exact
      .join(clusters.filter(col("id") === col("cluster")).select("id"), "id")
      .select(col("id"), col("text"), col("norm")), exact)

    Result(curated, report.result())
  }
}
