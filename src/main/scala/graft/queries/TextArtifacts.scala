package graft.queries

import graft.Tables
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Shared TOKENIZED-CORPUS artifacts for the text family — the
  * tokenize-once layer under t8/t10/t11/t17/t18/t20/t25, d9, and the
  * dedup shingle/simhash indexes. Before this, each of those queries
  * re-ran the same `documents` scan + whitespace split (and the
  * decontam pair re-built the same 8-gram index twice); the repeated
  * scan+explode dominated the family's 15-20× sf3 curves. Production
  * pipelines tokenize once per corpus snapshot and every downstream
  * job reads the materialized token/gram tables — this registry
  * mirrors that lifecycle in-process, exactly as `PqArtifacts` does
  * for the PQ serving family (3-5× warm wins there).
  *
  * Three independently-keyed bundles (granularity = what a query
  * family actually shares, the DocArtifacts/SimArtifacts rule — a
  * t1-only run must not pay the 8-gram or bigram-LM builds):
  *
  *  - [[toks]]: `(doc_id, source, lang, n_chars, w, n_words)` — the
  *    split corpus. One scan of `documents` per (session, dir);
  *    every other text build derives from it.
  *  - [[grams8]]: `(doc_id, source, n_words, xs)` for docs ≥ 8 words,
  *    `xs` = distinct word-8-gram hashes ([[graft.operators.TextDedup
  *    .shingleHashes]]) — the decontamination index t11 (report) and
  *    t20 (apply) share.
  *  - [[lmDoc]]: `(doc_id, n_bigrams, sumpf)` — the corpus-bigram-LM
  *    per-doc fixed-point scores (t10's core, see its scaladoc for
  *    the determinism + salted-join story) shared by t10 and t25.
  *
  * All cached through the registry's `persist` (MEMORY_AND_DISK +
  * eager count); eviction degrades to lazy recompute from the parquet
  * roots, never to wrong results. At 100 TB the cache becomes a
  * written table (CorpusLayout) — the consumer-side shape (derive
  * from the shared frame, never re-scan the raw corpus) is identical.
  *
  * `builds*` counters exist for the plan lock: TextFamilySpec asserts
  * each build runs ONCE per (session, dir) however many family
  * queries run.
  */
private[graft] object TextArtifacts {

  /** Build counters (test-only observability for the once-per-corpus
    * plan lock; monotone, never reset). */
  private[graft] val tokBuilds = new AtomicInteger
  private[graft] val gram8Builds = new AtomicInteger
  private[graft] val cabBuilds = new AtomicInteger
  private[graft] val lmBuilds = new AtomicInteger

  private val tokReg = new graft.ArtifactRegistry[DataFrame]()

  def toks(s: SparkSession, dir: String): DataFrame =
    tokReg(s, dir) { b =>
      tokBuilds.incrementAndGet()
      b.persist(Tables(s, dir, "documents")
        .withColumn("w", split(col("text"), " "))
        .select(col("doc_id"), col("source"), col("lang"), col("n_chars"),
          col("w"), size(col("w")).cast("long").as("n_words")))
    }

  private val gram8Reg = new graft.ArtifactRegistry[DataFrame]()

  def grams8(s: SparkSession, dir: String): DataFrame =
    gram8Reg(s, dir) { b =>
      gram8Builds.incrementAndGet()
      b.persist(toks(s, dir)
        .filter(col("n_words") >= 8)
        .select(col("doc_id"), col("source"), col("n_words"),
          graft.operators.TextDedup.shingleHashes("w", 8).as("xs")))
    }

  /** Positional bigram frame (doc_id, pos, a, b) off the shared
    * token frame — NOT persisted (corpus×length rows; its consumers
    * each reduce it immediately). `private[graft]` so the forget
    * cascade's LM retraction ([[graft.etl.Forget.retractBigramLm]])
    * derives the forgotten docs' count deltas from the same frame
    * the model was trained on. */
  private[graft] def bigrams(s: SparkSession, dir: String): DataFrame =
    toks(s, dir)
      .filter(col("n_words") >= 2)
      .select(col("doc_id"), posexplode(expr(
        "transform(sequence(0, size(w) - 2), i -> struct(w[i] AS a, w[i+1] AS b))"))
        .as(Seq("pos", "g")))
      .select(col("doc_id"), col("pos"), col("g.a").as("a"), col("g.b").as("b"))

  private val cabReg = new graft.ArtifactRegistry[DataFrame]()

  /** Corpus bigram counts `(a, b, cab)` — the bigram-LM numerator
    * (t10/t25 via [[lmDoc]]) AND the collocation support table (t8).
    * Vocabulary²-bounded (far below corpus size), one partial+final
    * hash agg over [[bigrams]]; exactly the "count table" a
    * production LM/collocation job writes once per snapshot. */
  def bigramCounts(s: SparkSession, dir: String): DataFrame =
    cabReg(s, dir) { b =>
      cabBuilds.incrementAndGet()
      b.persist(bigrams(s, dir)
        .groupBy(col("a"), col("b")).agg(count(lit(1)).as("cab")))
    }

  private val lmReg = new graft.ArtifactRegistry[DataFrame]()

  /** The LM scoring core: per-doc exact fixed-point bigram scores off
    * an explicit model `(cab, ca)` — factored (round 17) so the forget
    * cascade rescores AFFECTED docs against the RETRACTED model with
    * bit-identical arithmetic ([[graft.etl.Forget.retractBigramLm]]).
    * Both model joins are salted (hot stopword keys spread over 8
    * reducers; pair-identical to the plain join, e16's gate). */
  private[graft] def lmScore(bi: DataFrame, cab: DataFrame,
      ca: DataFrame): DataFrame = {
    val saltBy = struct(col("doc_id"), col("pos"))
    graft.operators.SaltedJoin.inner(
      graft.operators.SaltedJoin.inner(bi, cab, Seq("a", "b"), 8, saltBy),
      ca, Seq("a"), 8, saltBy)
      .withColumn("p", col("cab").cast("double") / col("ca"))
      .withColumn("pf", floor(col("p") * 1e9 + 0.5).cast("long"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("pf")).as("sumpf"))
  }

  /** Context counts `(a, ca)` derived from the CACHED bigram-count
    * table (ca = Σ_b cab) — vocabulary-scale, no corpus re-scan. */
  private[graft] def contextCounts(cab: DataFrame): DataFrame =
    cab.groupBy(col("a")).agg(sum(col("cab")).as("ca"))

  def lmDoc(s: SparkSession, dir: String): DataFrame =
    lmReg(s, dir) { b =>
      lmBuilds.incrementAndGet()
      val bi = bigrams(s, dir)
      val cab = bigramCounts(s, dir)
      val ca = bi.groupBy(col("a")).agg(count(lit(1)).as("ca"))
      b.persist(lmScore(bi, cab, ca))
    }
}
