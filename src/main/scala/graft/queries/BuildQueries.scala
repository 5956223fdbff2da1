package graft.queries

import graft.{QueryPack, Tables}
import graft.QueryPack.fround
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The end-to-end TRAINING-CORPUS BUILD — the composition the whole
  * t/d-family exists for, emitted as the per-source "corpus build
  * card" a pretraining run actually consumes. Every stage is an
  * operator that is individually oracle-gated elsewhere; this pack
  * wires them in production order and accounts for every document:
  *
  *   1. mixture weighting (t12): per-source token mass → temperature-
  *      flattened (α = 0.5) sampling rates against a 10k-token target;
  *   2. mixture application (t13): the deterministic content-hash
  *      sampler keeps doc iff md5-uniform(doc_id) < rate;
  *   3. decontamination (t11/t20): sampled docs whose distinct
  *      benchmark-8-gram overlap reaches 5% are dropped
  *      ([[TextQueries.decontamDropIds]] — the exact t20 drop set);
  *   4. near-dup dedup (d3 + d6): MinHash/LSH candidate pairs →
  *      connected components; within each cluster the SMALLEST
  *      SURVIVING doc id is kept. Survivor-min, not global-min: a
  *      cluster whose canonical rep was already dropped by sampling
  *      or decontam still contributes one member — dedup removes
  *      redundancy, it must not delete content because an upstream
  *      gate removed the rep. Exact duplicates are a special case
  *      (identical docs share every shingle, so they always pair);
  *   5. sequence packing (t14, B = 512): the concat-and-chunk step
  *      fills ceil(tokens/512) fixed-budget sequences per source —
  *      every chunk except the last is full by construction, so the
  *      manifest-level count needs only exact integer arithmetic on
  *      the surviving token mass (t14 itself reports the
  *      per-sequence detail).
  *
  * The build operates on the TRAIN split (doc_id % 10 != 7 — t20's
  * framing; the benchmark split never enters a training corpus), but
  * the mixture rates are computed over the full corpus exactly as
  * t12 publishes them, so b1's `sample_rate` column is t12's.
  *
  * Scale shape: rides the shared [[TextArtifacts]] token frame (no
  * re-tokenize) and [[DedupQueries]]' cached LSH pair index; the
  * rate table is #sources rows (broadcast), the decontam probe is
  * t11's broadcast-benchmark shape, the cluster keeper is a window
  * over cluster keys (corpus-distributed, no funnel), and the final
  * manifest is one partial+final agg to #sources rows. At 100 TB
  * every stage keeps the shape it was individually audited at —
  * composition adds joins on doc_id, all shuffle-bounded.
  *
  * Reference: composes SURVEY §2.4 (dedup) with the LLM-pipeline
  * surface; the reference's own pipeline composes its stages the
  * same way at ingest (src/workflows/ingest/orchestrator.ts ordering
  * precedent), but the corpus-build semantics are the training-data
  * extension the brief prescribes, not a reference port. */
object BuildQueries extends QueryPack {

  /** t12's mixture rates (identical math, off the shared token
    * frame; n_words == size(split(text, ' ')) by construction). The
    * w → den → rates diamond is t12's own audited shape: the
    * duplicated region is a #sources-row agg over the cached token
    * frame, cheaper than a cache entry. Shared by b1 and b2 so the
    * build and the delta admission sample at the SAME rates. */
  private[graft] def mixtureRates(s: SparkSession, dir: String): DataFrame =
    mixtureRatesFromMass(TextArtifacts.toks(s, dir)
      .select(col("source"), col("n_words"))
      .groupBy(col("source"))
      .agg(sum(col("n_words")).as("n_tokens")))

  /** The t12 rate math over an explicit per-source token-mass frame
    * `(source, n_tokens)` — factored out (round 14) so the continuous
    * admission loop can RE-publish the card over corpus ∪ admitted
    * mass with bit-identical arithmetic
    * ([[graft.streaming.RatePublisher]]). */
  private[graft] def mixtureRatesFromMass(src: DataFrame): DataFrame = {
    val tot = src.agg(sum(col("n_tokens")).as("t"))
    val w = src.crossJoin(broadcast(tot))
      .withColumn("sw", sqrt(col("n_tokens").cast("double") / col("t")))
    val den = w.agg(
      expr("aggregate(transform(array_sort(collect_list(struct(source, sw))), " +
        "s -> s.sw), cast(0.0 AS double), (acc, x) -> acc + x)").as("d"))
    w.crossJoin(broadcast(den))
      .select(col("source"),
        fround(least(lit(1.0),
          (col("sw") / col("d")) * lit(10000.0) / col("n_tokens")), 6)
          .as("sample_rate"))
  }

  /** t13's deterministic content-hash sampler: a 60-bit md5 prefix
    * as int64 over 2^60 is an exact IEEE uniform in both engines,
    * compared against the ROUNDED rate. */
  private[graft] val uniformU = expr(
    "cast(conv(substring(md5(cast(doc_id as string)), 1, 15), 16, 10) " +
      "as double) / 1152921504606846976.0")

  /** b1's per-document decision frame (stages 1–4, one row per train
    * doc with `sampled`/`contaminated`-derived `clean`, `cluster`,
    * `kept`) — shared by the b1 manifest agg and b3's realized
    * packing so both operate on the IDENTICAL kept set. */
  private[queries] def b1Fin(s: SparkSession, dir: String): DataFrame = {
    val toks = TextArtifacts.toks(s, dir)
      .select(col("doc_id"), col("source"), col("n_words"))

    // stage 1 — the published mixture rates
    val rates = mixtureRates(s, dir)

    // stage 2 — content-hash sampling on the train split
    val u = uniformU
    val train = toks.filter(col("doc_id") % 10 =!= 7)
      .join(broadcast(rates), Seq("source"))
      .withColumn("sampled", u < col("sample_rate"))

    // stage 3 — t20's exact drop set (broadcast-benchmark gram probe)
    val bad = TextQueries.decontamDropIds(s, dir)
      .withColumn("contaminated", lit(true))

    // stage 4 — corpus-level near-dup clusters: the train-once
    // cluster-label artifact (d3's cached LSH pairs under d6's
    // connected components, singletons included), then keep = min
    // SURVIVING doc id per cluster
    val clusters = DedupQueries.dupClusters(s, dir)

    val flags = train
      .join(bad, Seq("doc_id"), "left")
      .join(clusters, Seq("doc_id"))
      .withColumn("clean",
        col("sampled") && col("contaminated").isNull)
    val keeper = min(when(col("clean"), col("doc_id")))
      .over(Window.partitionBy(col("cluster")))
    flags.withColumn("kept", col("clean") && col("doc_id") === keeper)
  }

  /** b1 — one manifest row per source: docs/tokens in, the t12
    * sampling rate, what the sampler kept, what decontamination and
    * dedup removed, what survived, and how many B=512 training
    * sequences that fills. */
  private def b1(s: SparkSession, dir: String): DataFrame = {
    val fin = b1Fin(s, dir)

    // stage 5 folded into the manifest agg: n_sequences is exact
    // integer ceil-div of the surviving token mass by B = 512
    fin.groupBy(col("source"), col("sample_rate"))
      .agg(
        count(lit(1)).as("docs_in"),
        sum(col("n_words")).as("tokens_in"),
        sum(when(col("sampled"), 1L).otherwise(0L)).as("docs_sampled"),
        sum(when(col("sampled"), col("n_words")).otherwise(0L))
          .as("tokens_sampled"),
        sum(when(col("sampled") && col("contaminated").isNotNull, 1L)
          .otherwise(0L)).as("docs_contaminated"),
        sum(when(col("clean") && !col("kept"), 1L).otherwise(0L))
          .as("docs_duplicate"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("docs_out"),
        sum(when(col("kept"), col("n_words")).otherwise(0L)).as("tokens_out"))
      .withColumn("n_sequences", expr("(tokens_out + 511) div 512"))
      .select(col("source"), col("docs_in"), col("tokens_in"),
        col("sample_rate"), col("docs_sampled"), col("tokens_sampled"),
        col("docs_contaminated"), col("docs_duplicate"),
        col("docs_out"), col("tokens_out"), col("n_sequences"))
      .orderBy(col("source"))
  }

  /** Shared oracle CTE fragments (each expects a prior
    * `toks(doc_id, source, w)` CTE): the t12 rate chain and the t20
    * decontamination drop set. */
  private val ratesSqlCtes =
    """src AS (SELECT source, CAST(SUM(len(w)) AS BIGINT) AS n_tokens
      |        FROM toks GROUP BY source),
      |tot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS t FROM src),
      |w2 AS (SELECT source, n_tokens,
      |         sqrt(CAST(n_tokens AS DOUBLE) / t) AS sw FROM src, tot),
      |den AS (SELECT list_sum(list(sw ORDER BY source)) AS d FROM w2),
      |rates AS (SELECT source,
      |    FLOOR(least(1.0, (sw / d) * 10000.0 / n_tokens) * 1e6 + 0.5) / 1e6 AS sample_rate
      |  FROM w2, den)""".stripMargin

  private val decontamSqlCtes = {
    val gram8 =
      """list_distinct(list_transform(
        |      list_transform(range(1, len(w)-6), i -> array_to_string(w[i:i+7], ' ')),
        |      s -> CAST(('0x'||substr(md5(s),1,15)) AS BIGINT) % 2147483647))""".stripMargin
    s"""g AS (SELECT doc_id, $gram8 AS xs
      |      FROM toks WHERE len(w) >= 8),
      |bg AS (SELECT DISTINCT unnest(xs) AS gram FROM g WHERE doc_id % 10 = 7),
      |tg AS (SELECT * FROM g WHERE doc_id % 10 <> 7),
      |bad AS (
      |  SELECT t.doc_id FROM (
      |    SELECT tg.doc_id, len(tg.xs) AS n_grams, unnest(tg.xs) AS gram
      |    FROM tg) t JOIN bg USING (gram)
      |  GROUP BY t.doc_id, t.n_grams
      |  HAVING CAST(COUNT(DISTINCT t.gram) AS DOUBLE) / t.n_grams >= 0.05)""".stripMargin
  }

  private val uniformUSql =
    """CAST(('0x'||substr(md5(CAST(t.doc_id AS VARCHAR)),1,15)) AS BIGINT)
      |      / 1152921504606846976.0""".stripMargin

  /** The full oracle CTE chain down to b1's per-doc decision frame
    * `fin` (doc_id, source, n_tokens, sample_rate, sampled, cluster,
    * clean, kept) — shared by the b1 and b3 oracles so both recompute
    * the kept set identically and independently of the engine.
    * `survOnly` (b7) restricts the UNIVERSE to documents minus the b5
    * forget batch — the corpus build as it stands after the deletion;
    * every downstream CTE (rates, decontam flags, clusters, keeper,
    * packing) then recomputes over the survivors, which is exactly the
    * rebuild-without-keys the Spark-side retraction must land on. */
  private def b1FinSqlCtesFor(survOnly: Boolean): String = {
    val docPred =
      if (survOnly) " WHERE NOT (doc_id % 11 = 5 AND doc_id % 10 <> 7)"
      else ""
    val pairPred =
      if (survOnly)
        "\n      |          WHERE NOT (d1 % 11 = 5 AND d1 % 10 <> 7)" +
          "\n      |            AND NOT (d2 % 11 = 5 AND d2 % 10 <> 7)"
      else ""
    s"""toks AS (SELECT doc_id, source, string_split(text, ' ') AS w FROM documents$docPred),
      |$ratesSqlCtes,
      |$decontamSqlCtes,
      |pairs AS (SELECT d1, d2 FROM (${DedupQueries.d3OracleSql})$pairPred),
      |sym AS (SELECT d1 AS s, d2 AS t FROM pairs
      |        UNION ALL SELECT d2, d1 FROM pairs),
      |reach(id, r) AS (
      |  SELECT doc_id, doc_id FROM documents$docPred
      |  UNION
      |  SELECT reach.id, sym.t FROM reach JOIN sym ON reach.r = sym.s),
      |clus AS (SELECT id AS doc_id, MIN(r) AS cluster FROM reach GROUP BY id),
      |train AS (
      |  SELECT t.doc_id, t.source, CAST(len(t.w) AS BIGINT) AS n_tokens,
      |    r.sample_rate,
      |    ($uniformUSql < r.sample_rate) AS sampled
      |  FROM toks t JOIN rates r USING (source)
      |  WHERE t.doc_id % 10 <> 7),
      |flags AS (
      |  SELECT tr.*, c.cluster,
      |    (tr.sampled AND bad.doc_id IS NULL) AS clean
      |  FROM train tr
      |  LEFT JOIN bad ON tr.doc_id = bad.doc_id
      |  JOIN clus c ON tr.doc_id = c.doc_id),
      |fin AS (
      |  SELECT *, (clean AND doc_id = MIN(CASE WHEN clean THEN doc_id END)
      |    OVER (PARTITION BY cluster)) AS kept
      |  FROM flags)""".stripMargin
  }

  private val b1FinSqlCtes = b1FinSqlCtesFor(survOnly = false)

  private val b1Sql = {
    s"""WITH RECURSIVE
      |$b1FinSqlCtes
      |SELECT source,
      |  COUNT(*) AS docs_in,
      |  CAST(SUM(n_tokens) AS BIGINT) AS tokens_in,
      |  sample_rate,
      |  CAST(SUM(CASE WHEN sampled THEN 1 ELSE 0 END) AS BIGINT) AS docs_sampled,
      |  CAST(SUM(CASE WHEN sampled THEN n_tokens ELSE 0 END) AS BIGINT)
      |    AS tokens_sampled,
      |  CAST(SUM(CASE WHEN sampled AND NOT clean THEN 1 ELSE 0 END) AS BIGINT)
      |    AS docs_contaminated,
      |  CAST(SUM(CASE WHEN clean AND NOT kept THEN 1 ELSE 0 END) AS BIGINT)
      |    AS docs_duplicate,
      |  CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS docs_out,
      |  CAST(SUM(CASE WHEN kept THEN n_tokens ELSE 0 END) AS BIGINT) AS tokens_out,
      |  CAST((SUM(CASE WHEN kept THEN n_tokens ELSE 0 END) + 511) // 512 AS BIGINT)
      |    AS n_sequences
      |FROM fin
      |GROUP BY source, sample_rate
      |ORDER BY source""".stripMargin
  }

  /** b3 — REALIZED sequence packing over b1's kept set: stage 5 run
    * for real instead of folded into ceil-div arithmetic. The kept
    * docs are packed exactly like t14 (concat-and-chunk at B = 512 in
    * the deterministic content-hash order, a doc assigned to the
    * sequence its first token falls in) and the manifest reports, per
    * source, the REALIZED layout: sequence count from the last
    * token's position (not from the token-mass arithmetic), boundary
    * docs (spans crossing a sequence edge — what an attention-mask /
    * document-separator implementation must handle), and the final
    * sequence's fill. BuildQueriesSpec gates the reconciliation:
    * realized `n_sequences` ≡ b1's `(tokens_out + 511) div 512` per
    * source — the identity that proves the manifest's arithmetic
    * matches what the packer actually produces.
    *
    * Scale shape: b1Fin's stages keep their audited shapes; the
    * packing rides t14's bucketed prefix-sum (256 hash buckets per
    * source, broadcast per-bucket offsets — no per-source reducer
    * funnel), and the manifest is one partial+final agg. */
  private def b3(s: SparkSession, dir: String): DataFrame = {
    val B = 512
    val kept = b1Fin(s, dir).filter(col("kept"))
      .select(col("doc_id"), col("source"), col("n_words"))
      .withColumn("h", md5(col("doc_id").cast("string")))
    graft.operators.OffsetWindow
      .prefixSum(kept, Seq("source"),
        bucket = substring(col("h"), 1, 2),
        order = Seq(col("h"), col("doc_id")),
        weight = col("n_words"), out = "cum")
      .withColumn("before", col("cum") - col("n_words"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("docs_packed"),
        sum(col("n_words")).as("tokens_packed"),
        (max(expr(s"(cum - 1) div $B")) + 1L).as("n_sequences"),
        sum(when(expr(s"before div $B") =!= expr(s"(cum - 1) div $B"), 1L)
          .otherwise(0L)).as("boundary_docs"),
        (max(col("cum")) - max(expr(s"(cum - 1) div $B")) * B)
          .as("last_seq_fill"))
      .orderBy(col("source"))
  }

  private val b3Sql =
    s"""WITH RECURSIVE
      |$b1FinSqlCtes,
      |kept AS (
      |  SELECT doc_id, source, n_tokens,
      |    md5(CAST(doc_id AS VARCHAR)) AS h
      |  FROM fin WHERE kept),
      |cum AS (
      |  SELECT source, n_tokens,
      |    SUM(n_tokens) OVER (PARTITION BY source ORDER BY h, doc_id
      |      ROWS UNBOUNDED PRECEDING) AS c
      |  FROM kept)
      |SELECT source,
      |  COUNT(*) AS docs_packed,
      |  CAST(SUM(n_tokens) AS BIGINT) AS tokens_packed,
      |  CAST(MAX((c - 1) // 512) + 1 AS BIGINT) AS n_sequences,
      |  CAST(SUM(CASE WHEN (c - n_tokens) // 512 <> (c - 1) // 512
      |    THEN 1 ELSE 0 END) AS BIGINT) AS boundary_docs,
      |  CAST(MAX(c) - MAX((c - 1) // 512) * 512 AS BIGINT) AS last_seq_fill
      |FROM cum
      |GROUP BY source
      |ORDER BY source""".stripMargin

  /** b2 — the INCREMENTAL admission manifest, b1's "maintain"
    * counterpart: a new arrival batch (doc_id % 7 = 3, bench split
    * excluded — decorrelated from the source key so every source
    * gets a row) is admitted against the EXISTING ingested corpus,
    * per-source accounting of every drop:
    *
    *   1. sampling at the CURRENT t12 mixture rates (same
    *      [[mixtureRates]] frame as b1 — the delta samples at the
    *      rates the build published);
    *   2. decontamination — the same corpus-level t20 drop set
    *      (arrivals are train docs, so the set restricts directly);
    *   3. dedup vs the INDEX — d10's two-sided LSH probe: an arrival
    *      with a confirmed (≥12/16) near-dup already ingested is
    *      dropped (the index contains everything ingested, kept or
    *      not — admission dedups against what was SEEN);
    *   4. dedup WITHIN the batch — d3 pairs restricted to arrivals,
    *      connected components, keep the smallest PRE-ADMISSIBLE
    *      (sampled ∧ clean ∧ no index dup) member per cluster —
    *      b1's survivor-min semantic applied to the batch.
    *
    * Scale shape: the batch side of every stage is arrival-sized;
    * the index side is the cached banded signature frame (d10's
    * linear probe — no batch×index blowup), the decontam probe is
    * t11's broadcast-benchmark shape, and the batch CC runs over
    * batch-internal pairs only. This is the steady-state ingest loop
    * a 100 TB pipeline runs daily: b1 once, b2 per arrival batch. */
  /** b2's per-arrival decision frame (stages 1–4, one row per arrival
    * with `sampled`/`contaminated`/`dup_index`-derived `pre`,
    * `cluster`, `admitted`) — shared by the b2 manifest agg and the
    * STREAMING admission twin's batch-parity gate
    * (StreamingAdmissionSpec: the continuously-ingested admitted set
    * must be bit-identical to this frame's). */
  private[graft] def b2Fin(s: SparkSession, dir: String): DataFrame = {
    val toks = TextArtifacts.toks(s, dir)
      .select(col("doc_id"), col("source"), col("n_words"))
    val rates = mixtureRates(s, dir)
    val arrivals = toks
      .filter(DedupQueries.isDeltaArrival(col("doc_id")))
      .join(broadcast(rates), Seq("source"))
      .withColumn("sampled", uniformU < col("sample_rate"))
    val bad = TextQueries.decontamDropIds(s, dir)
      .withColumn("contaminated", lit(true))
    // both drop sets come from the memoized single-pass probe
    // (DedupQueries.DeltaArtifacts); the standalone two-join pipelines
    // remain the specs' independent recomputation
    val dupIdx = DedupQueries.deltaIdxDupArtifact(s, dir)
      .withColumn("dup_index", lit(true))
    val clusters = graft.operators.ConnectedComponents
      .run(DedupQueries.deltaBatchPairsArtifact(s, dir), "d1", "d2",
        Tables(s, dir, "documents")
          .filter(DedupQueries.isDeltaArrival(col("doc_id")))
          .select(col("doc_id")), "doc_id")
      .select(col("id").as("doc_id"), col("cluster"))
    val flags = arrivals
      .join(bad, Seq("doc_id"), "left")
      .join(dupIdx, Seq("doc_id"), "left")
      .join(clusters, Seq("doc_id"))
      .withColumn("pre", col("sampled") && col("contaminated").isNull &&
        col("dup_index").isNull)
    val keeper = min(when(col("pre"), col("doc_id")))
      .over(Window.partitionBy(col("cluster")))
    flags.withColumn("admitted", col("pre") && col("doc_id") === keeper)
  }

  private def b2(s: SparkSession, dir: String): DataFrame = {
    val fin = b2Fin(s, dir)
    fin.groupBy(col("source"), col("sample_rate"))
      .agg(
        count(lit(1)).as("docs_in"),
        sum(col("n_words")).as("tokens_in"),
        sum(when(col("sampled"), 1L).otherwise(0L)).as("docs_sampled"),
        sum(when(col("sampled") && col("contaminated").isNotNull, 1L)
          .otherwise(0L)).as("docs_contaminated"),
        sum(when(col("sampled") && col("contaminated").isNull &&
          col("dup_index").isNotNull, 1L).otherwise(0L)).as("docs_dup_index"),
        sum(when(col("pre") && !col("admitted"), 1L).otherwise(0L))
          .as("docs_dup_batch"),
        sum(when(col("admitted"), 1L).otherwise(0L)).as("docs_admitted"),
        sum(when(col("admitted"), col("n_words")).otherwise(0L))
          .as("tokens_admitted"))
      .select(col("source"), col("docs_in"), col("tokens_in"),
        col("sample_rate"), col("docs_sampled"), col("docs_contaminated"),
        col("docs_dup_index"), col("docs_dup_batch"),
        col("docs_admitted"), col("tokens_admitted"))
      .orderBy(col("source"))
  }

  private val b2Sql =
    s"""WITH RECURSIVE
      |toks AS (SELECT doc_id, source, string_split(text, ' ') AS w FROM documents),
      |$ratesSqlCtes,
      |$decontamSqlCtes,
      |dupi AS (SELECT doc_id FROM (${DedupQueries.deltaIndexDupSql})),
      |bpairs AS (SELECT d1, d2 FROM (${DedupQueries.deltaBatchPairsSql})),
      |sym AS (SELECT d1 AS s, d2 AS t FROM bpairs
      |        UNION ALL SELECT d2, d1 FROM bpairs),
      |reach(id, r) AS (
      |  SELECT doc_id, doc_id FROM documents
      |  WHERE doc_id % 7 = 3 AND doc_id % 10 <> 7
      |  UNION
      |  SELECT reach.id, sym.t FROM reach JOIN sym ON reach.r = sym.s),
      |clus AS (SELECT id AS doc_id, MIN(r) AS cluster FROM reach GROUP BY id),
      |arr AS (
      |  SELECT t.doc_id, t.source, CAST(len(t.w) AS BIGINT) AS n_tokens,
      |    r.sample_rate,
      |    ($uniformUSql < r.sample_rate) AS sampled
      |  FROM toks t JOIN rates r USING (source)
      |  WHERE t.doc_id % 7 = 3 AND t.doc_id % 10 <> 7),
      |flags AS (
      |  SELECT a.*, c.cluster,
      |    (bad.doc_id IS NOT NULL) AS contaminated,
      |    (dupi.doc_id IS NOT NULL) AS dup_index,
      |    (a.sampled AND bad.doc_id IS NULL AND dupi.doc_id IS NULL) AS pre
      |  FROM arr a
      |  LEFT JOIN bad ON a.doc_id = bad.doc_id
      |  LEFT JOIN dupi ON a.doc_id = dupi.doc_id
      |  JOIN clus c ON a.doc_id = c.doc_id),
      |fin AS (
      |  SELECT *, (pre AND doc_id = MIN(CASE WHEN pre THEN doc_id END)
      |    OVER (PARTITION BY cluster)) AS admitted
      |  FROM flags)
      |SELECT source,
      |  COUNT(*) AS docs_in,
      |  CAST(SUM(n_tokens) AS BIGINT) AS tokens_in,
      |  sample_rate,
      |  CAST(SUM(CASE WHEN sampled THEN 1 ELSE 0 END) AS BIGINT) AS docs_sampled,
      |  CAST(SUM(CASE WHEN sampled AND contaminated THEN 1 ELSE 0 END) AS BIGINT)
      |    AS docs_contaminated,
      |  CAST(SUM(CASE WHEN sampled AND NOT contaminated AND dup_index
      |    THEN 1 ELSE 0 END) AS BIGINT) AS docs_dup_index,
      |  CAST(SUM(CASE WHEN pre AND NOT admitted THEN 1 ELSE 0 END) AS BIGINT)
      |    AS docs_dup_batch,
      |  CAST(SUM(CASE WHEN admitted THEN 1 ELSE 0 END) AS BIGINT) AS docs_admitted,
      |  CAST(SUM(CASE WHEN admitted THEN n_tokens ELSE 0 END) AS BIGINT)
      |    AS tokens_admitted
      |FROM fin
      |GROUP BY source, sample_rate
      |ORDER BY source""".stripMargin

  /** The durable ADMISSION-INDEX state and its FOLD (round 14 — the
    * maintain loop's missing feedback half). Before this, admitted
    * arrivals vanished: the signature index and the cluster-label
    * table still described the pre-arrival snapshot, so the NEXT delta
    * would re-admit near-dups of this batch's admits. Three durable
    * doc_id-bucketed tables per corpus snapshot:
    *
    *   - `graft_b_idxsigs`:   MinHash signatures of everything SEEN.
    *     Written once for the ingested index (non-arrival, non-bench);
    *     the fold APPENDS the arrival batch's signatures — an
    *     arrival-sized bucketed append (each bucket gains one delta
    *     file), never an index rewrite. "Seen", not "admitted":
    *     admission dedups against what was ingested, kept or not
    *     (b2 stage 3's contract).
    *   - `graft_b_idxlabels`: near-dup cluster labels over the
    *     ingested index ("yesterday's" labels — in production these
    *     already exist; here built once from the index-restricted d3
    *     pairs).
    *   - `graft_b_foldlabels`: POST-FOLD labels over index ∪ arrivals,
    *     maintained INCREMENTALLY via the d20 star∪delta identity:
    *     CC(star(CC(G_idx)) ∪ Δ) = CC(G_idx ∪ Δ), where Δ is the
    *     memoized single-pass delta probe's pair evidence
    *     (arrival↔index + arrival↔arrival). b4's oracle recomputes
    *     the labels from the FULL pair graph in DuckDB, so the
    *     identity is hash-gated, not asserted.
    *
    * Scale shape: the fold's write is arrival-sized; the star frame is
    * node-sized (depth-1 chains, so the merged CC converges in ~2
    * rounds); the delta edges are the already-bounded banded probe.
    * Nothing rescans or rewrites the index — exactly the daily
    * maintain loop a 100 TB corpus runs. */
  private object FoldArtifacts {
    private val reg = new graft.ArtifactRegistry[DataFrame](
      onRetire = (s, dir) =>
        Seq(sigsTable(dir), idxLabelsTable(dir), foldLabelsTable(dir))
          .foreach(graft.etl.DurableArtifacts.drop(s, _)))

    def sigsTable(dir: String): String =
      s"graft_b_idxsigs_${graft.ArtifactRegistry.dirTag(dir)}"
    def idxLabelsTable(dir: String): String =
      s"graft_b_idxlabels_${graft.ArtifactRegistry.dirTag(dir)}"
    def foldLabelsTable(dir: String): String =
      s"graft_b_foldlabels_${graft.ArtifactRegistry.dirTag(dir)}"

    def apply(s: SparkSession, dir: String): DataFrame = reg(s, dir) { b =>
      val nb = s.conf.get("spark.sql.shuffle.partitions", "32").toInt
      val arrP = DedupQueries.isDeltaArrival(col("doc_id"))
      val sigs = DedupQueries.docSigs(s, dir)
      // pre-fold state — what "yesterday's" build wrote (build-or-
      // attach: a production run attaches; only this static-corpus
      // harness ever builds them)
      graft.etl.DurableArtifacts.bucketedTable(
        s, sigsTable(dir), nb, Seq("doc_id"), Seq("doc_id")) {
        sigs.filter(!arrP && col("doc_id") % 10 =!= 7)
      }
      graft.etl.DurableArtifacts.bucketedTable(
        s, idxLabelsTable(dir), nb, Seq("doc_id"), Seq("doc_id")) {
        val idxPairs = DedupQueries.d3PairsArtifact(s, dir)
          .filter(!DedupQueries.isDeltaArrival(col("d1")) &&
            col("d1") % 10 =!= 7 &&
            !DedupQueries.isDeltaArrival(col("d2")) &&
            col("d2") % 10 =!= 7)
          .select(col("d1"), col("d2"))
        graft.operators.ConnectedComponents.run(idxPairs, "d1", "d2",
          Tables(s, dir, "documents")
            .filter(!arrP && col("doc_id") % 10 =!= 7)
            .select(col("doc_id")), "doc_id")
          .select(col("id").as("doc_id"), col("cluster"))
      }
      val foldScan = graft.etl.DurableArtifacts.bucketedTable(
        s, foldLabelsTable(dir), nb, Seq("doc_id"), Seq("doc_id")) {
        // (a) signature-index fold: append the arrival batch's
        // signatures exactly once (idempotence checked under the
        // sigs table's stripe lock — a retried fold cannot
        // double-append)
        graft.etl.DurableArtifacts.appendBucketed(
          s, sigsTable(dir), nb, Seq("doc_id"), Seq("doc_id"),
          alreadyFolded = cur => !cur.filter(arrP).isEmpty) {
          sigs.filter(arrP)
        }
        // (b) label fold: star edges off yesterday's labels +
        // today's delta pair evidence, one ~2-round CC
        val star = s.table(idxLabelsTable(dir))
          .filter(col("doc_id") =!= col("cluster"))
          .select(col("doc_id").as("d1"), col("cluster").as("d2"))
        val delta = DedupQueries.deltaIdxPairsArtifact(s, dir)
          .unionByName(DedupQueries.deltaBatchPairsArtifact(s, dir))
        graft.operators.ConnectedComponents.run(
          star.unionByName(delta), "d1", "d2",
          Tables(s, dir, "documents")
            .filter(col("doc_id") % 10 =!= 7)
            .select(col("doc_id")), "doc_id")
          .select(col("id").as("doc_id"), col("cluster"))
      }
      b.persist(foldScan)
    }
  }

  /** Spec/lifecycle hooks for the fold artifacts. */
  private[graft] def foldSigsTableName(dir: String): String =
    FoldArtifacts.sigsTable(dir)
  private[graft] def foldLabels(s: SparkSession, dir: String): DataFrame =
    FoldArtifacts(s, dir)

  /** b5's keyed forget batch: doc_id ≡ 5 (mod 11) — decorrelated from
    * the source key (%20), the arrival split (%7) and the bench split
    * (%10), so the cascade touches every universe. Restricted to
    * non-bench docs (the only universe the artifacts cover). */
  private[graft] def isForgotten(c: org.apache.spark.sql.Column) =
    c % 11 === 5 && c % 10 =!= 7

  /** The POST-FORGET snapshot (round 16 — the delete-by-key cascade):
    * three NEW durable doc_id-bucketed tables derived from the
    * [[FoldArtifacts]] snapshot by deleting the forget batch AND its
    * derivatives:
    *
    *   - `graft_b_fsigs`:      the signature index minus the batch
    *     (bucketed anti-join rewrite);
    *   - `graft_b_ffoldlabels`: post-forget near-dup labels over the
    *     folded universe, via [[graft.etl.Forget.retractLabels]] —
    *     only components that lost a member recompute (q37's
    *     semi-join-pruned retraction), everything else carries over
    *     verbatim;
    *   - `graft_b_fidxlabels`:  the same retraction applied to the
    *     pre-fold index labels (every derivative of the doc set must
    *     forget, not just the latest view).
    *
    * The PRE-forget snapshot is never mutated (b2/b4/d20 keep
    * reading it); production retires it through `Maintenance.run`'s
    * artifact-drop hook once consumers switch — the swap protocol
    * ForgetSpec drives. b5's oracle rebuilds all three views from
    * documents-minus-batch in DuckDB, so retraction ≡ rebuild is
    * hash-gated per row. */
  private object ForgetArtifacts {
    private val reg = new graft.ArtifactRegistry[DataFrame](
      onRetire = (s, dir) =>
        Seq(sigsTable(dir), foldLabelsTable(dir), idxLabelsTable(dir))
          .foreach(graft.etl.DurableArtifacts.drop(s, _)))

    def sigsTable(dir: String): String =
      s"graft_b_fsigs_${graft.ArtifactRegistry.dirTag(dir)}"
    def foldLabelsTable(dir: String): String =
      s"graft_b_ffoldlabels_${graft.ArtifactRegistry.dirTag(dir)}"
    def idxLabelsTable(dir: String): String =
      s"graft_b_fidxlabels_${graft.ArtifactRegistry.dirTag(dir)}"

    def apply(s: SparkSession, dir: String): DataFrame = reg(s, dir) { b =>
      FoldArtifacts(s, dir) // the pre-forget snapshot must exist
      val nb = s.conf.get("spark.sql.shuffle.partitions", "32").toInt
      val forget = Tables(s, dir, "documents")
        .filter(isForgotten(col("doc_id"))).select(col("doc_id"))
      // surviving pair evidence over the non-bench universe (edges
      // touching a forgotten endpoint die with it)
      val pairs = DedupQueries.d3PairsArtifact(s, dir)
        .filter(col("d1") % 10 =!= 7 && col("d2") % 10 =!= 7)
        .select(col("d1"), col("d2"))
      graft.etl.DurableArtifacts.bucketedTable(
        s, sigsTable(dir), nb, Seq("doc_id"), Seq("doc_id")) {
        s.table(FoldArtifacts.sigsTable(dir))
          .join(forget, Seq("doc_id"), "left_anti")
      }
      graft.etl.DurableArtifacts.bucketedTable(
        s, foldLabelsTable(dir), nb, Seq("doc_id"), Seq("doc_id")) {
        graft.etl.Forget.retractLabels(
          s.table(FoldArtifacts.foldLabelsTable(dir)), pairs, forget)
      }
      val idxScan = graft.etl.DurableArtifacts.bucketedTable(
        s, idxLabelsTable(dir), nb, Seq("doc_id"), Seq("doc_id")) {
        graft.etl.Forget.retractLabels(
          s.table(FoldArtifacts.idxLabelsTable(dir)),
          pairs.filter(!DedupQueries.isDeltaArrival(col("d1")) &&
            !DedupQueries.isDeltaArrival(col("d2"))), forget)
      }
      b.persist(idxScan)
    }
  }

  /** b5 — the forget-cascade audit: one row per non-bench doc with
    * its POST-FORGET state read from the REAL snapshot tables (not
    * recomputed inline): still in the signature index?, post-forget
    * fold-universe cluster, post-forget index-universe cluster
    * (null for arrivals and for forgotten docs). The oracle rebuilds
    * every view from documents-minus-batch, so a hash match proves
    * the anti-join delete actually landed AND the pruned retraction
    * equals a full rebuild across all three artifact tables. */
  private def b5(s: SparkSession, dir: String): DataFrame = {
    ForgetArtifacts(s, dir)
    val docs = Tables(s, dir, "documents")
      .filter(col("doc_id") % 10 =!= 7)
      .select(col("doc_id"), col("source"))
    docs
      .join(s.table(ForgetArtifacts.sigsTable(dir))
        .select(col("doc_id"), lit(true).as("present")),
        Seq("doc_id"), "left")
      .join(s.table(ForgetArtifacts.foldLabelsTable(dir))
        .select(col("doc_id"), col("cluster").as("cluster_fold")),
        Seq("doc_id"), "left")
      .join(s.table(ForgetArtifacts.idxLabelsTable(dir))
        .select(col("doc_id"), col("cluster").as("cluster_idx")),
        Seq("doc_id"), "left")
      .select(col("doc_id"), col("source"),
        isForgotten(col("doc_id")).as("forgotten"),
        coalesce(col("present"), lit(false)).as("in_sigs"),
        col("cluster_fold"), col("cluster_idx"))
      .orderBy(col("doc_id"))
  }

  private val b5Sql =
    s"""WITH RECURSIVE
      |pairs AS (SELECT d1, d2 FROM (${DedupQueries.d3OracleSql})
      |          WHERE d1 % 10 <> 7 AND d2 % 10 <> 7
      |            AND d1 % 11 <> 5 AND d2 % 11 <> 5),
      |sym AS (SELECT d1 AS s, d2 AS t FROM pairs
      |        UNION ALL SELECT d2, d1 FROM pairs),
      |u AS (SELECT doc_id FROM documents
      |      WHERE doc_id % 10 <> 7 AND doc_id % 11 <> 5),
      |reach(id, r) AS (
      |  SELECT doc_id, doc_id FROM u
      |  UNION
      |  SELECT reach.id, sym.t FROM reach JOIN sym ON reach.r = sym.s),
      |clusf AS (SELECT id AS doc_id, MIN(r) AS cluster FROM reach GROUP BY id),
      |symi AS (SELECT d1 AS s, d2 AS t FROM pairs
      |         WHERE d1 % 7 <> 3 AND d2 % 7 <> 3
      |         UNION ALL
      |         SELECT d2, d1 FROM pairs WHERE d1 % 7 <> 3 AND d2 % 7 <> 3),
      |ui AS (SELECT doc_id FROM u WHERE doc_id % 7 <> 3),
      |reach2(id, r) AS (
      |  SELECT doc_id, doc_id FROM ui
      |  UNION
      |  SELECT reach2.id, symi.t FROM reach2 JOIN symi ON reach2.r = symi.s),
      |clusi AS (SELECT id AS doc_id, MIN(r) AS cluster FROM reach2 GROUP BY id)
      |SELECT d.doc_id, d.source,
      |  (d.doc_id % 11 = 5) AS forgotten,
      |  (d.doc_id % 11 <> 5) AS in_sigs,
      |  cf.cluster AS cluster_fold,
      |  ci.cluster AS cluster_idx
      |FROM documents d
      |LEFT JOIN clusf cf ON d.doc_id = cf.doc_id
      |LEFT JOIN clusi ci ON d.doc_id = ci.doc_id
      |WHERE d.doc_id % 10 <> 7
      |ORDER BY d.doc_id""".stripMargin

  /** b4 — the INDEX FOLD: the post-fold cluster-label table (index ∪
    * arrival batch) produced by the star∪delta incremental path, with
    * the arrival signatures appended to the durable signature index as
    * a side effect (spec-gated). The oracle recomputes the labels from
    * the full pair graph over the same universe, so incremental ≡
    * full-rebuild is hash-checked per row. */
  private def b4(s: SparkSession, dir: String): DataFrame =
    FoldArtifacts(s, dir)
      .withColumn("is_arrival",
        DedupQueries.isDeltaArrival(col("doc_id")))
      .orderBy(col("doc_id"))

  private val b4Sql =
    s"""WITH RECURSIVE
      |pairs AS (SELECT d1, d2 FROM (${DedupQueries.d3OracleSql})
      |          WHERE d1 % 10 <> 7 AND d2 % 10 <> 7),
      |sym AS (SELECT d1 AS s, d2 AS t FROM pairs
      |        UNION ALL SELECT d2, d1 FROM pairs),
      |reach(id, r) AS (
      |  SELECT doc_id, doc_id FROM documents WHERE doc_id % 10 <> 7
      |  UNION
      |  SELECT reach.id, sym.t FROM reach JOIN sym ON reach.r = sym.s),
      |clus AS (SELECT id AS doc_id, MIN(r) AS cluster FROM reach GROUP BY id)
      |SELECT doc_id, cluster,
      |  (doc_id % 7 = 3 AND doc_id % 10 <> 7) AS is_arrival
      |FROM clus
      |ORDER BY doc_id""".stripMargin

  /** The b5 forget batch as a keyed frame (shared by b6/b7/d21). */
  private[graft] def forgetBatch(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents")
      .filter(isForgotten(col("doc_id"))).select(col("doc_id"))

  /** The SCRUBBED serving tree (round 17 — the forget cascade's
    * storage leg): the non-bench corpus written as the
    * source-partitioned serving copy ([[graft.etl.CorpusLayout
    * .writePartitioned]], the continuous sink's layout), then the
    * forget batch deleted IN PLACE by [[graft.etl.CorpusLayout
    * .scrubPartitioned]] — a SELECTIVE leaf rewrite (only partitions
    * holding a forgotten doc swap; untouched partitions keep their
    * files byte-identical) under the fenced writer lease, the same
    * token the sink's appends and the compaction take. b6 then reads
    * the tree back from DISK, so the oracle gates what a reader
    * actually serves, not what a plan promises. Scratch-located and
    * process-unique like e31's ServingLayout. */
  private object ScrubArtifacts {
    final case class Art(path: String,
        report: graft.etl.CorpusLayout.CompactionReport)
    private def root(dir: String): String = sys.props("java.io.tmpdir") +
      "/graft-forget-serving-" + graft.ArtifactRegistry.dirTag(dir)
    private val reg = new graft.ArtifactRegistry[Art](
      onRetire = (_, dir) => graft.ArtifactRegistry.deleteDir(root(dir)))

    def apply(s: SparkSession, dir: String): Art = reg(s, dir) { _ =>
      val path = root(dir) + "/docs"
      graft.ArtifactRegistry.deleteDirOnExit(root(dir))
      graft.etl.CorpusLayout.writePartitioned(
        Tables(s, dir, "documents").filter(col("doc_id") % 10 =!= 7),
        path, Seq("source"), Seq("doc_id"), maxRecordsPerFile = 1 << 20)
      val rep = graft.etl.MaintenanceLease.withLeaseFenced(s, path) {
        fence =>
          graft.etl.CorpusLayout.scrubPartitioned(s, path,
            Seq("source"), Seq("doc_id"), maxRecordsPerFile = 1 << 20,
            forget = forgetBatch(s, dir), idCol = "doc_id",
            fence = Some(fence))
      }
      Art(path, rep)
    }
  }

  /** Spec hooks: the scrubbed tree's path and the scrub's own report
    * (ForgetSpec asserts the swap was SELECTIVE and real). */
  private[graft] def scrubbedServing(s: SparkSession, dir: String)
      : (String, graft.etl.CorpusLayout.CompactionReport) = {
    val a = ScrubArtifacts(s, dir); (a.path, a.report)
  }

  /** The post-forget bigram-LM view (b6's aggregate-artifact leg):
    * [[graft.etl.Forget.retractBigramLm]] over the CACHED TextArtifacts
    * frames — count-delta retraction plus the context-pruned rescore.
    * Retraction-once per (session, dir), like every post-forget
    * artifact: a forget batch is processed once and every consumer
    * reads the retracted view (ArtifactRegistry lifecycle); exposed
    * for ForgetSpec's no-forgotten-doc attach gate. */
  private val lmForgetReg = new graft.ArtifactRegistry[DataFrame]()

  private[graft] def lmPostForget(s: SparkSession, dir: String): DataFrame =
    lmForgetReg(s, dir) { b =>
      b.persist(graft.etl.Forget.retractBigramLm(
        TextArtifacts.bigrams(s, dir),
        TextArtifacts.bigramCounts(s, dir),
        TextArtifacts.lmDoc(s, dir),
        forgetBatch(s, dir)))
    }

  /** b7's post-forget KEPT set (retracted rates/labels + survivor-min
    * keeper), retraction-once per (session, dir) — the repack and any
    * future consumer read one materialization instead of re-running
    * the label retraction's CC per call. */
  private val keptForgetReg = new graft.ArtifactRegistry[DataFrame]()

  private def keptPostForget(s: SparkSession, dir: String): DataFrame =
    keptForgetReg(s, dir) { b =>
      val forget = forgetBatch(s, dir)
      val toksPost = TextArtifacts.toks(s, dir)
        .filter(!isForgotten(col("doc_id")))
        .select(col("doc_id"), col("source"), col("n_words"))
      val rates = mixtureRatesFromMass(toksPost
        .groupBy(col("source")).agg(sum(col("n_words")).as("n_tokens")))
      val train = toksPost.filter(col("doc_id") % 10 =!= 7)
        .join(broadcast(rates), Seq("source"))
        .withColumn("sampled", uniformU < col("sample_rate"))
      val bad = TextQueries.decontamDropIds(s, dir)
        .withColumn("contaminated", lit(true))
      val pairsSurv = DedupQueries.d3PairsArtifact(s, dir)
        .filter(!isForgotten(col("d1")) && !isForgotten(col("d2")))
        .select(col("d1"), col("d2"))
      val clusters = graft.etl.Forget.retractLabels(
        DedupQueries.dupClusters(s, dir), pairsSurv, forget)
      val flags = train
        .join(bad, Seq("doc_id"), "left")
        .join(clusters, Seq("doc_id"))
        .withColumn("clean", col("sampled") && col("contaminated").isNull)
      val keeper = min(when(col("clean"), col("doc_id")))
        .over(Window.partitionBy(col("cluster")))
      b.persist(flags
        .withColumn("kept", col("clean") && col("doc_id") === keeper)
        .filter(col("kept"))
        .select(col("doc_id"), col("source"), col("n_words"))
        .withColumn("h", md5(col("doc_id").cast("string"))))
    }

  /** b6 — the forget cascade's DERIVATIVE audit (round 17, completing
    * b5 beyond the index/label tables): one row per non-bench doc with
    * its post-forget state across the remaining derivative surfaces —
    * `in_serving` read back from the SCRUBBED partitioned serving tree
    * on disk ([[ScrubArtifacts]]), `n_words` from the post-forget
    * token attach, and `(n_bigrams, sumpf)` from the RETRACTED corpus
    * bigram model ([[lmPostForget]] — surviving docs' scores change
    * when the forgotten docs' counts leave the model, which is exactly
    * the derivative influence a deletion must erase). The oracle
    * rebuilds every view from documents-minus-batch, so scrub ≡
    * rewrite-without-keys and retraction ≡ retrain are hash-gated per
    * row. Scale: the scrub is sized by touched partitions, the
    * retraction by the forget batch (see the operators' scaladocs);
    * the audit itself is three keyed left joins. */
  private def b6(s: SparkSession, dir: String): DataFrame = {
    val servedPath = ScrubArtifacts(s, dir).path
    val served = s.read.option("basePath", servedPath).parquet(servedPath)
      .select(col("doc_id"), lit(true).as("present"))
    val toksPost = TextArtifacts.toks(s, dir)
      .filter(!isForgotten(col("doc_id")))
      .select(col("doc_id"), col("n_words"))
    val lm = lmPostForget(s, dir)
    Tables(s, dir, "documents")
      .filter(col("doc_id") % 10 =!= 7)
      .select(col("doc_id"), col("source"))
      .join(served, Seq("doc_id"), "left")
      .join(toksPost, Seq("doc_id"), "left")
      .join(lm, Seq("doc_id"), "left")
      .select(col("doc_id"), col("source"),
        isForgotten(col("doc_id")).as("forgotten"),
        coalesce(col("present"), lit(false)).as("in_serving"),
        col("n_words"), col("n_bigrams"), col("sumpf"))
      .orderBy(col("doc_id"))
  }

  private val b6Sql =
    """WITH toks AS (
      |  SELECT doc_id, source, string_split(text, ' ') AS w FROM documents),
      |surv AS (SELECT * FROM toks
      |         WHERE NOT (doc_id % 11 = 5 AND doc_id % 10 <> 7)),
      |bi AS (
      |  SELECT doc_id, i AS pos, w[i] AS a, w[i+1] AS b
      |  FROM surv, unnest(range(1, len(w))) AS t(i)
      |  WHERE len(w) >= 2),
      |cab AS (SELECT a, b, COUNT(*) AS cab FROM bi GROUP BY a, b),
      |ca AS (SELECT a, COUNT(*) AS ca FROM bi GROUP BY a),
      |sp AS (
      |  SELECT bi.doc_id,
      |    CAST(FLOOR(CAST(cab.cab AS DOUBLE) / ca.ca * 1e9 + 0.5) AS BIGINT) AS pf
      |  FROM bi JOIN cab USING (a, b) JOIN ca USING (a)),
      |lm AS (
      |  SELECT doc_id, COUNT(*) AS n_bigrams, CAST(SUM(pf) AS BIGINT) AS sumpf
      |  FROM sp GROUP BY doc_id)
      |SELECT t.doc_id, t.source,
      |  (t.doc_id % 11 = 5) AS forgotten,
      |  (t.doc_id % 11 <> 5) AS in_serving,
      |  CASE WHEN t.doc_id % 11 <> 5 THEN CAST(len(t.w) AS BIGINT) END
      |    AS n_words,
      |  lm.n_bigrams, lm.sumpf
      |FROM toks t LEFT JOIN lm ON t.doc_id = lm.doc_id
      |WHERE t.doc_id % 10 <> 7
      |ORDER BY t.doc_id""".stripMargin

  /** b7 — the POST-FORGET repack (round 17, the forget cascade
    * reaching b3's packed manifests): the realized B=512 packing over
    * the corpus-build kept set AS IT STANDS AFTER the deletion. Every
    * upstream decision retracts through an already-gated identity
    * instead of a rebuild: the mixture rates re-derive from the
    * surviving token mass (bit-identical arithmetic via
    * [[mixtureRatesFromMass]] — the RatePublisher path), the decontam
    * flags are per-doc and carry over, the near-dup clusters retract
    * through [[graft.etl.Forget.retractLabels]]' component pruning
    * (b1's full universe this time), and the survivor-min keeper +
    * packing prefix-sum re-run over the kept set (packing is
    * position-dependent — deleting a doc shifts every later doc in
    * its source, so the pack stage is inherently a rewrite; at scale
    * that is the t14 bucketed prefix-sum, never a funnel). The oracle
    * recomputes the whole build from documents-minus-batch, so the
    * composed retraction ≡ rebuild-without-keys per source row. */
  private def b7(s: SparkSession, dir: String): DataFrame = {
    val B = 512
    // the retraction-once kept' artifact (also the diamond cut — the
    // packing prefix-sum reads its input twice)
    val kept = keptPostForget(s, dir)
    graft.operators.OffsetWindow
      .prefixSum(kept, Seq("source"),
        bucket = substring(col("h"), 1, 2),
        order = Seq(col("h"), col("doc_id")),
        weight = col("n_words"), out = "cum")
      .withColumn("before", col("cum") - col("n_words"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("docs_packed"),
        sum(col("n_words")).as("tokens_packed"),
        (max(expr(s"(cum - 1) div $B")) + 1L).as("n_sequences"),
        sum(when(expr(s"before div $B") =!= expr(s"(cum - 1) div $B"), 1L)
          .otherwise(0L)).as("boundary_docs"),
        (max(col("cum")) - max(expr(s"(cum - 1) div $B")) * B)
          .as("last_seq_fill"))
      .orderBy(col("source"))
  }

  private val b7Sql =
    s"""WITH RECURSIVE
      |${b1FinSqlCtesFor(survOnly = true)},
      |kept AS (
      |  SELECT doc_id, source, n_tokens,
      |    md5(CAST(doc_id AS VARCHAR)) AS h
      |  FROM fin WHERE kept),
      |cum AS (
      |  SELECT source, n_tokens,
      |    SUM(n_tokens) OVER (PARTITION BY source ORDER BY h, doc_id
      |      ROWS UNBOUNDED PRECEDING) AS c
      |  FROM kept)
      |SELECT source,
      |  COUNT(*) AS docs_packed,
      |  CAST(SUM(n_tokens) AS BIGINT) AS tokens_packed,
      |  CAST(MAX((c - 1) // 512) + 1 AS BIGINT) AS n_sequences,
      |  CAST(SUM(CASE WHEN (c - n_tokens) // 512 <> (c - 1) // 512
      |    THEN 1 ELSE 0 END) AS BIGINT) AS boundary_docs,
      |  CAST(MAX(c) - MAX((c - 1) // 512) * 512 AS BIGINT) AS last_seq_fill
      |FROM cum
      |GROUP BY source
      |ORDER BY source""".stripMargin

  override def queries: Map[String, (SparkSession, String) => DataFrame] =
    Map("b1_corpus_build" -> b1, "b2_corpus_delta" -> b2,
      "b3_packing_manifest" -> b3, "b4_index_fold" -> b4,
      "b5_forget_cascade" -> b5, "b6_forget_derivatives" -> b6,
      "b7_forget_repack" -> b7)

  override def oracle: Map[String, String] =
    Map("b1_corpus_build" -> b1Sql, "b2_corpus_delta" -> b2Sql,
      "b3_packing_manifest" -> b3Sql, "b4_index_fold" -> b4Sql,
      "b5_forget_cascade" -> b5Sql, "b6_forget_derivatives" -> b6Sql,
      "b7_forget_repack" -> b7Sql)
}
