package graft.queries

import graft.{QueryPack, Tables}
import graft.QueryPack.fround
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators for a training-data pipeline over the
  * `documents` table: language-ID heuristic, quality scoring, token
  * counting (whitespace + regex "BPE-ish"), content fingerprinting.
  *
  * All pure column expressions (split/filter/transform/md5 — codegen
  * friendly, no UDFs); per-document work is embarrassingly parallel,
  * aggregations are partial+final. At 100 TB this is a single scan
  * per query with no shuffle except the final small rollup.
  */
object TextQueries extends QueryPack {

  /** English function-word list used by the language-ID heuristic
    * (the classic stopword-density signal). */
  private val enStop = Seq("the", "a", "of", "and", "to", "in", "is", "it")

  /** Stopword count over a `w` array column via the native
    * `graft_count_in` kernel (count semantics ≡ the oracle's
    * `len(list_filter(...))`; the lambda form interprets per element). */
  private val stopCount: Column =
    call_function("graft_count_in", col("w"), array(enStop.map(lit): _*))

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents")

  private val words: Column = split(col("text"), " ")

  /** (doc_id, score) under t2's quality formula — shared with d17's
    * keep-best dedup so "quality" means ONE thing across the library.
    * Rides the shared tokenized corpus ([[TextArtifacts.toks]]). */
  private[queries] def docScores(s: SparkSession, dir: String): DataFrame =
    TextArtifacts.toks(s, dir)
      .withColumn("ttr",
        size(array_distinct(col("w"))).cast("double") / col("n_words"))
      .withColumn("mean_wlen",
        (col("n_chars") - (col("n_words") - 1)).cast("double") / col("n_words"))
      .withColumn("stop_ratio", stopCount.cast("double") / col("n_words"))
      .select(col("doc_id"), fround(
        least(col("n_words").cast("double") / 100, lit(1.0)) * 0.4 +
          col("ttr") * 0.3 + least(col("mean_wlen") / 5, lit(1.0)) * 0.2 +
          col("stop_ratio") * 0.1, 6).as("score"))

  /** DuckDB mirror of [[docScores]] (t2's formula keyed by doc_id). */
  private[queries] def docScoresSql: String = {
    val stopList = enStop.map(w => s"x = '$w'").mkString(" OR ")
    s"""SELECT doc_id,
      |  FLOOR((LEAST(CAST(len(w) AS DOUBLE)/100, 1.0)*0.4 +
      |        (CAST(len(list_distinct(w)) AS DOUBLE) / len(w))*0.3 +
      |        LEAST((CAST(n_chars - (len(w) - 1) AS DOUBLE) / len(w))/5, 1.0)*0.2 +
      |        (CAST(len(list_filter(w, x -> $stopList)) AS DOUBLE) / len(w))*0.1) * 1e6 + 0.5) / 1e6 AS score
      |FROM (SELECT doc_id, n_chars, string_split(text, ' ') AS w FROM documents) f""".stripMargin
  }

  /** t1 — language-ID heuristic: density of English function words
    * per document, thresholded; confusion counts against the labeled
    * `lang` column. */
  private def t1(s: SparkSession, dir: String): DataFrame = {
    docs(s, dir)
      .withColumn("w", words)
      .withColumn("stop_ratio", stopCount.cast("double") / size(col("w")))
      .withColumn("predicted_en", col("stop_ratio") >= 0.05)
      .groupBy(col("lang"), col("predicted_en"))
      .agg(count(lit(1)).as("n_docs"),
        fround(avg(col("stop_ratio")), 6).as("avg_stop_ratio"))
      .orderBy(col("lang"), col("predicted_en"))
  }

  private def t1Sql = {
    val stopList = enStop.map(w => s"x = '$w'").mkString(" OR ")
    s"""SELECT lang, predicted_en, COUNT(*) AS n_docs,
      |  FLOOR(AVG(stop_ratio) * 1e6 + 0.5) / 1e6 AS avg_stop_ratio
      |FROM (
      |  SELECT lang,
      |    CAST(len(list_filter(w, x -> $stopList)) AS DOUBLE) / len(w) AS stop_ratio,
      |    CAST(len(list_filter(w, x -> $stopList)) AS DOUBLE) / len(w) >= 0.05 AS predicted_en
      |  FROM (SELECT lang, string_split(text, ' ') AS w FROM documents) a) b
      |GROUP BY lang, predicted_en
      |ORDER BY lang, predicted_en""".stripMargin
  }

  /** t2 — quality scoring: length, mean word length, type-token
    * ratio, stopword ratio → weighted score → keep/review/drop
    * bucket. The score formula is arbitrary-but-deterministic; the
    * operator shape (per-doc featurize → bucket → rollup) is what a
    * pretraining filter runs. */
  private def t2(s: SparkSession, dir: String): DataFrame = {
    val featurized = docs(s, dir)
      .withColumn("w", words)
      .withColumn("n_words", size(col("w")).cast("long"))
      .withColumn("ttr",
        size(array_distinct(col("w"))).cast("double") / col("n_words"))
      .withColumn("mean_wlen",
        (col("n_chars") - (col("n_words") - 1)).cast("double") / col("n_words"))
      .withColumn("stop_ratio", stopCount.cast("double") / col("n_words"))
      .withColumn("score", fround(
        least(col("n_words").cast("double") / 100, lit(1.0)) * 0.4 +
          col("ttr") * 0.3 + least(col("mean_wlen") / 5, lit(1.0)) * 0.2 +
          col("stop_ratio") * 0.1, 6))
      .withColumn("bucket",
        when(col("score") >= 0.55, "keep")
          .when(col("score") >= 0.45, "review").otherwise("drop"))
    featurized.groupBy(col("source"), col("bucket"))
      .agg(count(lit(1)).as("n_docs"), fround(avg(col("score")), 6).as("avg_score"),
        fround(avg(col("ttr")), 6).as("avg_ttr"))
      .orderBy(col("source"), col("bucket"))
  }

  private def t2Sql = {
    val stopList = enStop.map(w => s"x = '$w'").mkString(" OR ")
    s"""WITH f AS (
      |  SELECT source,
      |    len(w) AS n_words,
      |    CAST(len(list_distinct(w)) AS DOUBLE) / len(w) AS ttr,
      |    CAST(n_chars - (len(w) - 1) AS DOUBLE) / len(w) AS mean_wlen,
      |    CAST(len(list_filter(w, x -> $stopList)) AS DOUBLE) / len(w) AS stop_ratio
      |  FROM (SELECT source, n_chars, string_split(text, ' ') AS w FROM documents) a),
      |scored AS (
      |  SELECT source,
      |    FLOOR((LEAST(CAST(n_words AS DOUBLE)/100, 1.0)*0.4 + ttr*0.3 +
      |          LEAST(mean_wlen/5, 1.0)*0.2 + stop_ratio*0.1) * 1e6 + 0.5) / 1e6 AS score, ttr
      |  FROM f)
      |SELECT source,
      |  CASE WHEN score >= 0.55 THEN 'keep'
      |       WHEN score >= 0.45 THEN 'review' ELSE 'drop' END AS bucket,
      |  COUNT(*) AS n_docs, FLOOR(AVG(score) * 1e6 + 0.5) / 1e6 AS avg_score,
      |  FLOOR(AVG(ttr) * 1e6 + 0.5) / 1e6 AS avg_ttr
      |FROM scored
      |GROUP BY source, bucket
      |ORDER BY source, bucket""".stripMargin
  }

  /** t3 — token counting: whitespace tokens vs a BPE-ish regex
    * tokenizer (letter runs / digit runs / single other chars), per
    * source. The regex class is deliberately RE2-and-Java-compatible. */
  private def t3(s: SparkSession, dir: String): DataFrame = {
    docs(s, dir)
      .withColumn("ws_tokens", size(split(col("text"), " ")).cast("long"))
      .withColumn("bpe_tokens",
        size(regexp_extract_all(col("text"), lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0)))
          .cast("long"))
      .groupBy(col("source"))
      .agg(sum(col("ws_tokens")).as("sum_ws_tokens"),
        sum(col("bpe_tokens")).as("sum_bpe_tokens"),
        fround(avg(col("bpe_tokens").cast("double") / col("ws_tokens")), 6)
          .as("avg_expansion"))
      .orderBy(col("source"))
  }

  private val t3Sql =
    """SELECT source,
      |  CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS sum_ws_tokens,
      |  CAST(SUM(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]'))) AS BIGINT) AS sum_bpe_tokens,
      |  FLOOR(AVG(CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS DOUBLE)
      |        / len(string_split(text, ' '))) * 1e6 + 0.5) / 1e6 AS avg_expansion
      |FROM documents
      |GROUP BY source
      |ORDER BY source""".stripMargin

  /** t4 — document fingerprinting: exact content hash (md5) plus an
    * order-insensitive bag-of-words fingerprint; groups sharing a bag
    * fingerprint are permutation near-dups. Emits the fingerprint
    * groups with >1 member (54 docs at sf0.01). */
  private def t4(s: SparkSession, dir: String): DataFrame = {
    val bagFp = md5(concat_ws(" ", array_sort(array_distinct(words))))
    val d = docs(s, dir).withColumn("bag_fp", bagFp)
    val groups = d.groupBy(col("bag_fp"))
      .agg(count(lit(1)).as("n_members"), min(col("doc_id")).as("canonical_id"))
      .filter(col("n_members") > 1)
    d.join(groups, "bag_fp")
      .select(col("bag_fp"), col("doc_id"), col("canonical_id"), col("n_members"),
        (col("doc_id") =!= col("canonical_id")).as("is_duplicate"))
      .orderBy(col("bag_fp"), col("doc_id"))
  }

  private val t4Sql =
    """WITH d AS (
      |  SELECT doc_id,
      |    md5(array_to_string(list_sort(list_distinct(string_split(text,' '))), ' ')) AS bag_fp
      |  FROM documents),
      |g AS (
      |  SELECT bag_fp, COUNT(*) AS n_members, MIN(doc_id) AS canonical_id
      |  FROM d GROUP BY bag_fp HAVING COUNT(*) > 1)
      |SELECT d.bag_fp, d.doc_id, g.canonical_id, g.n_members,
      |  d.doc_id <> g.canonical_id AS is_duplicate
      |FROM d JOIN g ON d.bag_fp = g.bag_fp
      |ORDER BY d.bag_fp, d.doc_id""".stripMargin

  /** t5 — winnowing fingerprints (MOSS-style rolling-hash document
    * fingerprinting): ordered word-3-gram hashes, sliding windows of
    * 4, keep each window's minimum → the document's fingerprint set.
    * Guarantees any shared run of ≥6 words yields a shared
    * fingerprint, with ~1/4 the storage of full shingling.
    *
    * Both per-doc passes run on native kernels — `graft_shingle_seq`
    * (positional gram hashes, formula-identical to the former
    * md5/conv lambda) and `graft_winnow` (distinct window minima in
    * first-occurrence order; equivalence vs the
    * `array_distinct(transform(...array_min(slice(...))))` lambda is
    * pinned in TextHashesSpec) — the interpreted-HOF pitfall that
    * bit m3 and d3 before. */
  private def t5(s: SparkSession, dir: String): DataFrame = {
    docs(s, dir)
      .withColumn("w", words)
      .filter(size(col("w")) >= 6)
      .withColumn("hs", call_function("graft_shingle_seq", col("w"), lit(3)))
      .withColumn("fps", call_function("graft_winnow", col("hs"), lit(4)))
      .select(col("doc_id"),
        size(col("hs")).cast("long").as("n_grams"),
        size(col("fps")).cast("long").as("n_fingerprints"),
        array_min(col("fps")).as("min_fp"),
        array_max(col("fps")).as("max_fp"))
      .orderBy(col("doc_id"))
  }

  private val t5Sql =
    """WITH g AS (
      |  SELECT doc_id,
      |    list_transform(range(1, len(w)-1),
      |      i -> CAST(('0x'||substr(md5(w[i]||' '||w[i+1]||' '||w[i+2]),1,15)) AS BIGINT)
      |           % 2147483647) AS hs
      |  FROM (SELECT doc_id, string_split(text,' ') AS w FROM documents)
      |  WHERE len(w) >= 6),
      |f AS (
      |  SELECT doc_id, len(hs) AS n_grams,
      |    list_distinct(list_transform(range(1, len(hs)-2),
      |      i -> list_min(hs[i:i+3]))) AS fps
      |  FROM g)
      |SELECT doc_id, CAST(n_grams AS BIGINT) AS n_grams,
      |  CAST(len(fps) AS BIGINT) AS n_fingerprints,
      |  list_min(fps) AS min_fp, list_max(fps) AS max_fp
      |FROM f
      |ORDER BY doc_id""".stripMargin

  /** t6 — stratified sampling, the curation step that balances a
    * training mix: keep N docs per (lang, source) stratum, chosen by
    * rank over a uniform content-independent hash of the doc id —
    * deterministic across engines and runs, unbiased within the
    * stratum. Scale note: the rank is a per-stratum window (sort
    * within stratum); when one stratum is corpus-sized, pre-filter by
    * the hash itself first — uniform hashes mean `hash < N/|stratum|
    * × MAX × safety` keeps ~N·safety candidates, and the exact rank
    * then runs on that sliver (same two-phase shape as TopKAgg). */
  private def t6(s: SparkSession, dir: String): DataFrame = {
    val perStratum = 5
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang"), col("source"))
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
    docs(s, dir)
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= perStratum)
      .select(col("lang"), col("source"), col("rk").cast("long").as("rk"),
        col("doc_id"), col("n_chars"))
      .orderBy(col("lang"), col("source"), col("rk"))
  }

  private val t6Sql =
    """SELECT lang, source, CAST(rk AS BIGINT) AS rk, doc_id, n_chars
      |FROM (
      |  SELECT lang, source, doc_id, n_chars,
      |    ROW_NUMBER() OVER (PARTITION BY lang, source
      |                       ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
      |  FROM documents) t
      |WHERE rk <= 5
      |ORDER BY lang, source, rk""".stripMargin

  /** t7 — normalization-aware dedup profile: the cleaning pipeline
    * every pretraining corpus runs (lowercase → strip non-alnum →
    * collapse whitespace → trim), then per-source dup rates against
    * the RAW vs NORMALIZED fingerprint — the delta is exactly the
    * duplication that casing/punctuation noise was hiding. Single
    * scan; regexes are anchored-free char-class rewrites that behave
    * identically in Java regex and RE2. */
  private def t7(s: SparkSession, dir: String): DataFrame = {
    // native single-pass normalizer (= the regex composition the
    // oracle spells out; NormTextSpec differential lock)
    val norm = graft.etl.Curation.normalize(col("text"))
    docs(s, dir)
      .withColumn("nfp", md5(norm))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(md5(col("text"))).as("distinct_raw"),
        countDistinct(col("nfp")).as("distinct_norm"))
      .withColumn("dup_rate_norm",
        fround(lit(1.0) - col("distinct_norm").cast("double") / col("n_docs"), 6))
      .orderBy(col("source"))
  }

  private val t7Sql =
    """SELECT source, COUNT(*) AS n_docs,
      |  COUNT(DISTINCT md5(text)) AS distinct_raw,
      |  COUNT(DISTINCT md5(trim(regexp_replace(regexp_replace(lower(text),
      |    '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')))) AS distinct_norm,
      |  FLOOR((1.0 - CAST(COUNT(DISTINCT md5(trim(regexp_replace(regexp_replace(lower(text),
      |    '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')))) AS DOUBLE) / COUNT(*)) * 1e6 + 0.5) / 1e6
      |    AS dup_rate_norm
      |FROM documents
      |GROUP BY source
      |ORDER BY source""".stripMargin

  /** t8 — collocation mining: adjacent word pairs scored by lift
    * (n_ab·N / (n_a·n_b) — the PMI argument without the log, so the
    * score is exact rational arithmetic, cross-engine deterministic),
    * support-filtered, top-50. The vocab/collocation profile a
    * tokenizer-training step reads. Two scans (bigrams, unigrams) +
    * two keyed joins of bigram rows against the unigram counts; the
    * 1-row total broadcast-joins. The tokenize pass rides the shared
    * [[TextArtifacts.toks]] corpus artifact. */
  private def t8(s: SparkSession, dir: String): DataFrame = {
    val d = TextArtifacts.toks(s, dir).filter(col("n_words") >= 2)
    val uni = d.select(explode(col("w")).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("n_tok"))
    val total = uni.agg(sum(col("n_tok")).as("n_total"))
    // bigram support = the shared corpus bigram-count artifact (the
    // same table that is the t10/t25 LM numerator)
    val bi = TextArtifacts.bigramCounts(s, dir)
      .select(col("a"), col("b"), col("cab").as("n_ab"))
      .filter(col("n_ab") >= 5)
    bi.join(uni.select(col("tok").as("a"), col("n_tok").as("n_a")), "a")
      .join(uni.select(col("tok").as("b"), col("n_tok").as("n_b")), "b")
      .crossJoin(broadcast(total))
      .withColumn("lift", fround(
        (col("n_ab") * col("n_total")).cast("double") /
          (col("n_a") * col("n_b")).cast("double"), 6))
      .select(col("a"), col("b"), col("n_ab"), col("n_a"), col("n_b"), col("lift"))
      .orderBy(col("n_ab").desc, col("a"), col("b"))
      .limit(50)
  }

  private val t8Sql =
    """WITH d AS (SELECT string_split(text, ' ') AS w FROM documents
      |           WHERE len(string_split(text, ' ')) >= 2),
      |uni AS (SELECT unnest(w) AS tok FROM d),
      |u AS (SELECT tok, COUNT(*) AS n_tok FROM uni GROUP BY tok),
      |total AS (SELECT SUM(n_tok) AS n_total FROM u),
      |bi AS (
      |  SELECT w[i] AS a, w[i+1] AS b, COUNT(*) AS n_ab
      |  FROM (SELECT w, unnest(range(1, len(w))) AS i FROM d) x
      |  GROUP BY w[i], w[i+1]
      |  HAVING COUNT(*) >= 5)
      |SELECT bi.a, bi.b, bi.n_ab, ua.n_tok AS n_a, ub.n_tok AS n_b,
      |  FLOOR(CAST(bi.n_ab * total.n_total AS DOUBLE)
      |        / CAST(ua.n_tok * ub.n_tok AS DOUBLE) * 1e6 + 0.5) / 1e6 AS lift
      |FROM bi JOIN u ua ON bi.a = ua.tok JOIN u ub ON bi.b = ub.tok, total
      |ORDER BY n_ab DESC, a, b
      |LIMIT 50""".stripMargin

  /** t9 — PII detection & redaction, the scrub pass a curation
    * pipeline runs before training. The `customer` table plays the
    * raw-profile corpus: each row composes a free-text profile —
    * name (which carries a TPC-H 9-digit id), a phone in the TPC-H
    * dd-ddd-ddd-dddd shape and a 9-digit account id, both derived
    * deterministically from the row's keys via printf (the trimmed
    * test tables carry no phone/address columns, so the fixture
    * synthesizes the SHAPES the scrubber must catch). The scan then
    * redacts phones (→ [PHONE]) and residual digit runs ≥3
    * (→ [ID]), counting hits of each class and emitting the redacted
    * fingerprint. Order matters and is fixed: ids are counted AFTER
    * phone redaction so phone digits aren't double-reported.
    *
    * Scale: single scan, pure regexp column ops (codegen'd), no
    * shuffle but the final order — like d7, a first-pass filter.
    * Patterns stay in the regex subset Java and RE2 interpret
    * identically (character classes + bounded/greedy repetition). */
  private def t9(s: SparkSession, dir: String): DataFrame = {
    val phoneRe = "[0-9]{2}-[0-9]{3}-[0-9]{3}-[0-9]{4}"
    val idRe = "[0-9]{3,}"
    Tables(s, dir, "customer")
      .withColumn("profile", concat_ws(" ",
        col("c_name"), lit("ph"),
        format_string("%02d-%03d-%03d-%04d",
          col("c_nationkey") + 10, col("c_custkey") % 1000,
          (col("c_custkey") * 7) % 1000, (col("c_custkey") * 31) % 10000),
        lit("acct"),
        format_string("%09d", (col("c_custkey") * 2654435761L) % 1000000000L),
        col("c_mktsegment")))
      .withColumn("nophone", regexp_replace(col("profile"), phoneRe, "[PHONE]"))
      .select(col("c_custkey"),
        regexp_count(col("profile"), lit(phoneRe)).cast("long").as("n_phones"),
        regexp_count(col("nophone"), lit(idRe)).cast("long").as("n_ids"),
        length(regexp_replace(col("nophone"), idRe, "[ID]")).cast("long")
          .as("len_redacted"),
        md5(regexp_replace(col("nophone"), idRe, "[ID]")).as("fp"))
      .orderBy(col("c_custkey"))
  }

  private val t9Sql =
    """WITH p AS (
      |  SELECT c_custkey,
      |    c_name || ' ph ' ||
      |    printf('%02d-%03d-%03d-%04d', c_nationkey + 10, c_custkey % 1000,
      |      (c_custkey * 7) % 1000, (c_custkey * 31) % 10000) ||
      |    ' acct ' ||
      |    printf('%09d', (c_custkey * 2654435761) % 1000000000) ||
      |    ' ' || c_mktsegment AS profile
      |  FROM customer),
      |np AS (
      |  SELECT c_custkey, profile,
      |    regexp_replace(profile, '[0-9]{2}-[0-9]{3}-[0-9]{3}-[0-9]{4}',
      |      '[PHONE]', 'g') AS nophone
      |  FROM p),
      |r AS (
      |  SELECT c_custkey, profile, nophone,
      |    regexp_replace(nophone, '[0-9]{3,}', '[ID]', 'g') AS redacted
      |  FROM np)
      |SELECT c_custkey,
      |  CAST(len(regexp_extract_all(profile,
      |    '[0-9]{2}-[0-9]{3}-[0-9]{3}-[0-9]{4}')) AS BIGINT) AS n_phones,
      |  CAST(len(regexp_extract_all(nophone, '[0-9]{3,}')) AS BIGINT) AS n_ids,
      |  CAST(length(redacted) AS BIGINT) AS len_redacted,
      |  md5(redacted) AS fp
      |FROM r
      |ORDER BY c_custkey""".stripMargin

  /** t10 — corpus-bigram language-model scoring, the CCNet-style
    * "does this doc look like the corpus" quality signal: a bigram
    * model is trained on the corpus itself (cnt(a,b) / cnt(a·)) and
    * every doc is scored by its mean conditional bigram probability.
    * Low scorers are out-of-distribution docs a pipeline routes to
    * review (or a domain filter keeps, depending on direction).
    *
    * Determinism across engines, by construction: probabilities are
    * exact integer-count ratios (one double division each), then
    * snapped to 1e-9 fixed-point LONGS (`floor(p·1e9 + 0.5)` — the
    * s17 convention) so the per-doc sum is integer arithmetic:
    * order-free, parallel-reduction-proof, and bit-identical in both
    * engines with NO per-doc array buffer. (p ≤ 1 ⇒ each term ≤ 1e9;
    * the long sum overflows only past ~9.2e9 bigrams in one document
    * — far beyond any real document.)
    *
    * Scale: two hash aggregations build the model (bigram + unigram
    * context counts — partial+final, keyed on words), two keyed joins
    * score the corpus, one final per-doc aggregation. The model
    * tables are vocabulary-sized and the scoring joins are keyed on
    * WORDS — at web scale stopword keys ("the", "of") carry a huge
    * fraction of all bigram rows, so both joins run through
    * [[graft.operators.SaltedJoin]] (8-way deterministic salt on
    * (doc_id, pos), small side replicated) — each hot word spreads
    * over 8 reducers instead of pinning one straggler. The salted
    * join is pair-for-pair identical to the plain join (e16's gate),
    * so the oracle is untouched. */
  private def t10(s: SparkSession, dir: String): DataFrame =
    docLmFixedPoint(s, dir)
      .select(col("doc_id"), col("n_bigrams"),
        fround(col("sumpf").cast("double") / 1e9 / col("n_bigrams"), 6)
          .as("avg_p"))
      .orderBy(col("doc_id"))

  /** t10's per-doc LM core, shared with t25: (doc_id, n_bigrams,
    * sumpf) where sumpf is the EXACT 1e-9 fixed-point sum of the
    * doc's conditional bigram probabilities. Train-once per corpus:
    * the scores live in the shared [[TextArtifacts.lmDoc]] registry
    * (persisted, eagerly materialized), so t10 and t25 share ONE
    * model build instead of re-running the bigram explode + two
    * model aggs + salted scoring joins each. */
  private def docLmFixedPoint(s: SparkSession, dir: String): DataFrame =
    TextArtifacts.lmDoc(s, dir)

  private val t10Sql =
    """WITH g AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |bi AS (
      |  SELECT doc_id, i AS pos, w[i] AS a, w[i+1] AS b
      |  FROM g, unnest(range(1, len(w))) AS t(i)
      |  WHERE len(w) >= 2),
      |cab AS (SELECT a, b, COUNT(*) AS cab FROM bi GROUP BY a, b),
      |ca AS (SELECT a, COUNT(*) AS ca FROM bi GROUP BY a),
      |sp AS (
      |  SELECT bi.doc_id, bi.pos,
      |    CAST(FLOOR(CAST(cab.cab AS DOUBLE) / ca.ca * 1e9 + 0.5) AS BIGINT) AS pf
      |  FROM bi JOIN cab USING (a, b) JOIN ca USING (a))
      |SELECT doc_id, COUNT(*) AS n_bigrams,
      |  FLOOR(CAST(SUM(pf) AS DOUBLE) / 1e9 / COUNT(*) * 1e6 + 0.5) / 1e6 AS avg_p
      |FROM sp
      |GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin

  /** t25 — CCNet-style perplexity bucketing: t10's corpus-LM score
    * routes every doc into head/middle/tail quality tiers by FIXED
    * thresholds, then reports the per-(source, bucket) doc count,
    * token mass and mean score — the mixture table a pretraining run
    * samples from (CCNet splits CommonCrawl exactly this way). Fixed
    * cutoffs are the production shape: thresholds come from a held-out
    * calibration, not a corpus-wide quantile, so the op adds NO global
    * sort/quantile pass on top of the scoring core.
    *
    * Determinism: the bucket key is integer arithmetic on t10's exact
    * fixed-point sums — `score_fp = (sumpf·1000) div n_bigrams`, floor
    * division of nonnegative longs, identical in both engines — and
    * the group mean derives from the exact long sum of score_fp (one
    * double division + round at the end). Docs with no bigram (< 2
    * words) carry zero LM evidence but a pipeline must still account
    * for their token mass: they land in an `unscored` bucket (left
    * join, null score).
    *
    * Scale: everything past the t10 scoring core (see its scaladoc
    * for the salted-join story) is one partial+final agg keyed on
    * (source, bucket) — a handful of result rows. */
  private def t25(s: SparkSession, dir: String): DataFrame = {
    val d = TextArtifacts.toks(s, dir)
      .select(col("doc_id"), col("source"), col("n_words"))
    val scored = docLmFixedPoint(s, dir)
      .select(col("doc_id"), expr("sumpf * 1000 div n_bigrams").as("score_fp"))
    d.join(scored, Seq("doc_id"), "left")
      .withColumn("bucket",
        when(col("score_fp").isNull, lit("unscored"))
          .when(col("score_fp") >= 35000000000L, lit("head"))
          .when(col("score_fp") >= 34000000000L, lit("middle"))
          .otherwise(lit("tail")))
      .groupBy(col("source"), col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_words")).as("n_tokens"),
        sum(col("score_fp")).as("sum_fp"))
      .select(col("source"), col("bucket"), col("n_docs"), col("n_tokens"),
        fround(col("sum_fp").cast("double") / 1e12 / col("n_docs"), 6)
          .as("avg_score"))
      .orderBy(col("source"), col("bucket"))
  }

  private val t25Sql =
    """WITH g AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |bi AS (
      |  SELECT doc_id, i AS pos, w[i] AS a, w[i+1] AS b
      |  FROM g, unnest(range(1, len(w))) AS t(i)
      |  WHERE len(w) >= 2),
      |cab AS (SELECT a, b, COUNT(*) AS cab FROM bi GROUP BY a, b),
      |ca AS (SELECT a, COUNT(*) AS ca FROM bi GROUP BY a),
      |sp AS (
      |  SELECT bi.doc_id,
      |    CAST(FLOOR(CAST(cab.cab AS DOUBLE) / ca.ca * 1e9 + 0.5) AS BIGINT) AS pf
      |  FROM bi JOIN cab USING (a, b) JOIN ca USING (a)),
      |sc AS (
      |  SELECT doc_id,
      |    CAST((SUM(pf) * 1000) // COUNT(*) AS BIGINT) AS score_fp
      |  FROM sp GROUP BY doc_id),
      |d AS (SELECT doc_id, source, len(string_split(text, ' ')) AS n_words
      |      FROM documents)
      |SELECT source,
      |  CASE WHEN score_fp IS NULL THEN 'unscored'
      |       WHEN score_fp >= 35000000000 THEN 'head'
      |       WHEN score_fp >= 34000000000 THEN 'middle'
      |       ELSE 'tail' END AS bucket,
      |  COUNT(*) AS n_docs,
      |  CAST(SUM(n_words) AS BIGINT) AS n_tokens,
      |  FLOOR(CAST(SUM(score_fp) AS DOUBLE) / 1e12 / COUNT(*) * 1e6 + 0.5) / 1e6 AS avg_score
      |FROM d LEFT JOIN sc USING (doc_id)
      |GROUP BY source, bucket
      |ORDER BY source, bucket""".stripMargin

  /** t11 — benchmark decontamination, the train/test-overlap audit
    * every LLM data pipeline runs before training (the 8-word-gram
    * variant of the GPT-3/PaLM 13-gram rule, sized to this corpus's
    * doc lengths): the benchmark split is `doc_id % 10 = 7` and a
    * training doc is contaminated when it shares ≥1 distinct word
    * 8-gram with any benchmark doc. Reports, per contaminated doc,
    * how many of its grams are contaminated, how many benchmark docs
    * it touches, and the contaminated fraction — the evidence row a
    * pipeline attaches when it quarantines the doc.
    *
    * Gram identity is the same md5-based int64 of the one-pass
    * [[graft.functions.ShingleHash]] kernel used by d2/d3 (n=8), so
    * the DuckDB mirror is formula-identical.
    *
    * Scale: THE textbook broadcast case — benchmark suites are MBs
    * while the corpus is the 100 TB side, so the distinct benchmark
    * gram set (with its doc ids) broadcasts and contamination is a
    * map-side hash probe per corpus gram; the per-doc rollup is one
    * partial+final hash agg keyed by doc_id (already co-grouped with
    * the explode). No corpus-sized shuffle anywhere.
    *
    * The bench gram set is broadcast whatever its size; q21
    * (`q21_bloom_prefilter`) is the bloom-prefilter shape for a probe
    * side too big to broadcast: a driver-built sketch prunes the big
    * side map-side, then a shuffled exact join removes the false
    * positives. */
  private def t11(s: SparkSession, dir: String): DataFrame = {
    // train-once decontam index: t11 (report) and t20 (apply) share
    // one persisted gram build instead of re-exploding the corpus
    val grams = TextArtifacts.grams8(s, dir)
    val bench = grams.filter(col("doc_id") % 10 === 7)
      .select(col("doc_id").as("bench_doc"), explode(col("xs")).as("gram"))
      .distinct()
    val train = grams.filter(col("doc_id") % 10 =!= 7)
    val hits = train.select(col("doc_id"),
        size(col("xs")).cast("long").as("n_grams"),
        explode(col("xs")).as("gram"))
      .join(broadcast(bench), Seq("gram"))
      .groupBy(col("doc_id"), col("n_grams"))
      .agg(countDistinct(col("gram")).as("n_contaminated"),
        countDistinct(col("bench_doc")).as("n_bench_docs"))
    hits.select(col("doc_id"), col("n_grams"), col("n_contaminated"),
        col("n_bench_docs"),
        fround(col("n_contaminated").cast("double") / col("n_grams"), 6)
          .as("contaminated_frac"))
      .orderBy(col("doc_id"))
  }

  private val t11Sql =
    """WITH g AS (
      |  SELECT doc_id,
      |    list_distinct(list_transform(
      |      list_transform(range(1, len(w)-6), i -> array_to_string(w[i:i+7], ' ')),
      |      s -> CAST(('0x'||substr(md5(s),1,15)) AS BIGINT) % 2147483647)) AS xs
      |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
      |  WHERE len(w) >= 8),
      |bg AS (SELECT DISTINCT doc_id AS bench_doc, unnest(xs) AS gram
      |       FROM g WHERE doc_id % 10 = 7),
      |tg AS (SELECT doc_id, len(xs) AS n_grams, unnest(xs) AS gram
      |       FROM g WHERE doc_id % 10 <> 7)
      |SELECT tg.doc_id, CAST(tg.n_grams AS BIGINT) AS n_grams,
      |  COUNT(DISTINCT tg.gram) AS n_contaminated,
      |  COUNT(DISTINCT bg.bench_doc) AS n_bench_docs,
      |  FLOOR(CAST(COUNT(DISTINCT tg.gram) AS DOUBLE) / tg.n_grams * 1e6 + 0.5) / 1e6
      |    AS contaminated_frac
      |FROM tg JOIN bg USING (gram)
      |GROUP BY tg.doc_id, tg.n_grams
      |ORDER BY tg.doc_id""".stripMargin

  /** t12 — data-mixture weighting, the sampling-proportion step of a
    * multi-source training pipeline: per-source token counts →
    * temperature-flattened mixture weights (α = 0.5, i.e. weight ∝
    * √share — the standard multilingual/multi-domain rebalancing
    * that upsamples small sources without letting giants dominate) →
    * the per-source sampling rate that would hit a 10k-token target
    * mixture (the rate a content-hash sampler like t6 then applies).
    *
    * α is fixed at 0.5 deliberately: pow(x, α) is not required to be
    * correctly rounded and differs across libms, but √ is exact in
    * IEEE — so both engines compute bit-identical weights. The
    * weight-sum denominator folds in source-name order (the
    * sorted-fold convention) so parallel reduction can't perturb it.
    *
    * Scale: per-source token totals are one partial+final agg over
    * the corpus; everything after operates on a #sources-row table
    * (two 1-row broadcasts for the grand totals). At 100 TB this is
    * exactly the shape you want — the corpus is touched once. */
  private def t12(s: SparkSession, dir: String): DataFrame = {
    val src = docs(s, dir)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(size(split(col("text"), " ")).cast("long")).as("n_tokens"))
    val tot = src.agg(sum(col("n_tokens")).as("t"))
    val w = src.crossJoin(broadcast(tot))
      .withColumn("rawf", col("n_tokens").cast("double") / col("t"))
      .withColumn("sw", sqrt(col("rawf")))
    val den = w.agg(
      expr("aggregate(transform(array_sort(collect_list(struct(source, sw))), " +
        "s -> s.sw), cast(0.0 AS double), (acc, x) -> acc + x)").as("d"))
    w.crossJoin(broadcast(den))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        fround(col("rawf"), 6).as("raw_frac"),
        fround(col("sw") / col("d"), 6).as("temp_frac"),
        fround(least(lit(1.0),
          (col("sw") / col("d")) * lit(10000.0) / col("n_tokens")), 6)
          .as("sample_rate"))
      .orderBy(col("source"))
  }

  private val t12Sql =
    """WITH src AS (
      |  SELECT source, COUNT(*) AS n_docs,
      |    CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
      |  FROM documents GROUP BY source),
      |tot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS t FROM src),
      |w AS (
      |  SELECT source, n_docs, n_tokens,
      |    CAST(n_tokens AS DOUBLE) / t AS rawf,
      |    sqrt(CAST(n_tokens AS DOUBLE) / t) AS sw
      |  FROM src, tot),
      |den AS (SELECT list_sum(list(sw ORDER BY source)) AS d FROM w)
      |SELECT source, n_docs, n_tokens,
      |  FLOOR(rawf * 1e6 + 0.5) / 1e6 AS raw_frac,
      |  FLOOR(sw / d * 1e6 + 0.5) / 1e6 AS temp_frac,
      |  FLOOR(least(1.0, (sw / d) * 10000.0 / n_tokens) * 1e6 + 0.5) / 1e6 AS sample_rate
      |FROM w, den ORDER BY source""".stripMargin

  /** t13 — mixture APPLICATION: t12's temperature-flattened
    * per-source sampling rates driven through a deterministic
    * content-hash sampler (the t6 family: u = md5(doc_id)-derived
    * uniform in [0,1), keep iff u < rate), with per-source
    * accounting of what the sampled corpus would contain. This is
    * the production step after t12 — the mixture is not a report, it
    * selects the actual training set; hash-based selection makes the
    * sample reproducible across runs/engines and stable under
    * corpus re-partitioning (no RNG state).
    *
    * The uniform is exact in both engines: a 60-bit md5 prefix as
    * int64, divided by 2^60 (one correctly-rounded IEEE division),
    * compared against t12's ROUNDED rate (the hash-gated quantity).
    *
    * Scale: one broadcast of the #sources-row rate table, one corpus
    * scan, partial+final agg — the corpus is touched once, same as
    * t12. */
  private def t13(s: SparkSession, dir: String): DataFrame = {
    val rates = t12(s, dir).select(col("source"), col("sample_rate"))
    val u = expr(
      "cast(conv(substring(md5(cast(doc_id as string)), 1, 15), 16, 10) " +
        "as double) / 1152921504606846976.0") // / 2^60 → uniform [0,1)
    val keep = col("u") < col("sample_rate")
    docs(s, dir)
      .join(broadcast(rates), Seq("source"))
      .withColumn("u", u)
      .groupBy(col("source"), col("sample_rate"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(keep, 1L).otherwise(0L)).as("n_selected"),
        sum(when(keep, size(split(col("text"), " ")).cast("long"))
          .otherwise(0L)).as("sel_tokens"))
      .select(col("source"), col("sample_rate"), col("n_docs"),
        col("n_selected"), col("sel_tokens"),
        fround(col("n_selected").cast("double") / col("n_docs"), 6)
          .as("realized_rate"))
      .orderBy(col("source"))
  }

  private val t13Sql =
    """WITH src AS (
      |  SELECT source, COUNT(*) AS n_docs,
      |    CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
      |  FROM documents GROUP BY source),
      |tot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS t FROM src),
      |w AS (
      |  SELECT source, n_tokens,
      |    sqrt(CAST(n_tokens AS DOUBLE) / t) AS sw
      |  FROM src, tot),
      |den AS (SELECT list_sum(list(sw ORDER BY source)) AS d FROM w),
      |rates AS (
      |  SELECT source,
      |    FLOOR(least(1.0, (sw / d) * 10000.0 / n_tokens) * 1e6 + 0.5) / 1e6 AS sample_rate
      |  FROM w, den),
      |docs2 AS (
      |  SELECT d.source, r.sample_rate, d.text,
      |    CAST(('0x'||substr(md5(CAST(d.doc_id AS VARCHAR)),1,15)) AS BIGINT)
      |      / 1152921504606846976.0 AS u
      |  FROM documents d JOIN rates r USING (source))
      |SELECT source, sample_rate, COUNT(*) AS n_docs,
      |  CAST(SUM(CASE WHEN u < sample_rate THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_selected,
      |  CAST(SUM(CASE WHEN u < sample_rate
      |    THEN len(string_split(text, ' ')) ELSE 0 END) AS BIGINT) AS sel_tokens,
      |  FLOOR(CAST(SUM(CASE WHEN u < sample_rate THEN 1 ELSE 0 END) AS DOUBLE)
      |    / COUNT(*) * 1e6 + 0.5) / 1e6 AS realized_rate
      |FROM docs2
      |GROUP BY source, sample_rate
      |ORDER BY source""".stripMargin

  /** t14 — sequence packing: the concat-and-chunk step that turns a
    * curated corpus into fixed-budget training sequences (B = 512
    * tokens). Documents are concatenated per source in a
    * deterministic content-hash order (the t6/t13 convention, so the
    * packing is reproducible and partition-independent) and a doc is
    * assigned to the sequence its FIRST token falls in
    * (`seq_id = tokens_before div B`). Emits per-sequence packing
    * stats.
    *
    * Scale: the running token total is NOT a per-source window (20
    * sources → 20 reducers funneling the corpus — the q20 trap).
    * Same cure as q20: bucket by the leading hash byte (256
    * deterministic buckets per source), local cumsums per
    * (source, bucket) — thousands of independent window partitions —
    * plus broadcast prefix-sum offsets from the metadata-scale
    * per-bucket count frame. `div` keeps the arithmetic in exact
    * int64 (a double division would lose token-offset precision past
    * 2^53 on a real corpus). */
  private def t14(s: SparkSession, dir: String): DataFrame = {
    val B = 512
    val t = docs(s, dir)
      .select(col("source"), col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
      .withColumn("h", md5(col("doc_id").cast("string")))
    graft.operators.OffsetWindow
      .prefixSum(t, Seq("source"),
        bucket = substring(col("h"), 1, 2),
        order = Seq(col("h"), col("doc_id")),
        weight = col("n_tokens"), out = "cum")
      .withColumn("before", col("cum") - col("n_tokens"))
      .withColumn("seq_id", expr(s"before div $B"))
      .groupBy(col("source"), col("seq_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("seq_tokens"))
      .orderBy(col("source"), col("seq_id"))
  }

  private val t14Sql =
    """WITH t AS (
      |  SELECT source, doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
      |    md5(CAST(doc_id AS VARCHAR)) AS h,
      |    substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) AS bk
      |  FROM documents),
      |counts AS (SELECT source, bk, SUM(n_tokens) AS c FROM t GROUP BY source, bk),
      |offsets AS (
      |  SELECT source, bk,
      |    COALESCE(SUM(c) OVER (PARTITION BY source ORDER BY bk
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
      |  FROM counts),
      |ranked AS (
      |  SELECT t.source, t.doc_id, t.n_tokens,
      |    o.off + SUM(t.n_tokens) OVER (PARTITION BY t.source, t.bk
      |      ORDER BY t.h, t.doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - t.n_tokens AS before
      |  FROM t JOIN offsets o ON t.source = o.source AND t.bk = o.bk)
      |SELECT source, CAST(before // 512 AS BIGINT) AS seq_id,
      |  COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS seq_tokens
      |FROM ranked
      |GROUP BY source, before // 512
      |ORDER BY source, seq_id""".stripMargin

  /** t15 — TF-IDF salient terms per source, the domain-profile step
    * that characterizes what each corpus slice is "about" (and the
    * feature weighting a quality classifier trains on). Score is the
    * LOG-FREE variant `tf × N / df` (the t8 convention: `log` is not
    * correctly rounded across libms, so the score stays an exact
    * integer ratio through one IEEE division — bit-identical in both
    * engines); support-filtered at tf ≥ 5, top-10 per source with
    * (score desc, term) deterministic tie-break.
    *
    * Scale: tokenize+explode is one corpus scan; tf and df are
    * partial+final hash aggs keyed on words; the df join is
    * vocabulary-sized with ≤ #sources rows per term (no hot-key
    * blowup — the skewed unigram join of t10 does not occur here
    * because tf already collapsed the corpus). The rank window runs
    * per source over the tf≥5 slice (vocabulary-scale, not
    * corpus-scale); if a per-source vocab ever outgrows a reducer,
    * s3's TopKAgg is the drop-in replacement. */
  private def t15(s: SparkSession, dir: String): DataFrame = {
    val tok = docs(s, dir)
      .select(col("source"), col("doc_id"), explode(words).as("term"))
    val dfreq = tok.select(col("term"), col("doc_id")).distinct()
      .groupBy(col("term")).agg(count(lit(1)).as("df"))
    val n = docs(s, dir).agg(count(lit(1)).as("n_docs"))
    val tf = tok.groupBy(col("source"), col("term"))
      .agg(count(lit(1)).as("tf"))
      .filter(col("tf") >= 5)
    val w = Window.partitionBy(col("source"))
      .orderBy(col("tfidf").desc, col("term"))
    tf.join(dfreq, "term")
      .crossJoin(broadcast(n))
      .withColumn("tfidf", (col("tf") * col("n_docs")).cast("double") / col("df"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 10)
      .select(col("source"), col("rk").cast("long").as("rk"), col("term"),
        col("tf"), col("df"), fround(col("tfidf"), 6).as("tfidf"))
      .orderBy(col("source"), col("rk"))
  }

  private val t15Sql =
    """WITH tok AS (
      |  SELECT source, doc_id, unnest(string_split(text, ' ')) AS term
      |  FROM documents),
      |dfreq AS (
      |  SELECT term, COUNT(*) AS df
      |  FROM (SELECT DISTINCT term, doc_id FROM tok) GROUP BY term),
      |n AS (SELECT COUNT(*) AS n_docs FROM documents),
      |tf AS (
      |  SELECT source, term, COUNT(*) AS tf FROM tok
      |  GROUP BY source, term HAVING COUNT(*) >= 5),
      |sc AS (
      |  SELECT source, term, tf, df,
      |    CAST(tf * n_docs AS DOUBLE) / df AS tfidf
      |  FROM tf JOIN dfreq USING (term), n),
      |rk AS (
      |  SELECT source, term, tf, df, tfidf,
      |    ROW_NUMBER() OVER (PARTITION BY source
      |                       ORDER BY tfidf DESC, term) AS rk
      |  FROM sc)
      |SELECT source, CAST(rk AS BIGINT) AS rk, term, tf, df,
      |  FLOOR(tfidf * 1e6 + 0.5) / 1e6 AS tfidf
      |FROM rk WHERE rk <= 10
      |ORDER BY source, rk""".stripMargin

  /** t16 — tokenizer-vocabulary coverage: build the top-V corpus
    * vocabulary (V = 500 by count, term tie-break) and report each
    * source's out-of-vocabulary rate — the audit a tokenizer-training
    * step runs to size V and to catch sources the vocab underserves
    * (high OOV → the source's text will fragment into bytes/unks).
    *
    * Scale: vocab selection is a partial+final count agg followed by
    * a top-k (`TakeOrderedAndProject` — per-partition heaps, no
    * global sort, the q3 shape); the V-row vocab broadcasts and
    * coverage is a map-side probe per token. The corpus is touched
    * twice (count pass, probe pass), shuffled only by the
    * vocabulary-sized aggs. */
  private def t16(s: SparkSession, dir: String): DataFrame = {
    val vSize = 500
    val tok = docs(s, dir).select(col("source"), explode(words).as("term"))
    val vocab = tok.groupBy(col("term")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("term")).limit(vSize)
      .select(col("term"), lit(1L).as("in_vocab"))
    tok.join(broadcast(vocab), Seq("term"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"),
        countDistinct(when(col("in_vocab").isNull, col("term"))).as("n_oov_types"))
      .withColumn("oov_rate",
        fround(col("n_oov").cast("double") / col("n_tokens"), 6))
      .orderBy(col("source"))
  }

  private val t16Sql =
    """WITH tok AS (
      |  SELECT source, unnest(string_split(text, ' ')) AS term FROM documents),
      |vocab AS (
      |  SELECT term FROM (
      |    SELECT term, COUNT(*) AS cnt FROM tok GROUP BY term
      |    ORDER BY cnt DESC, term LIMIT 500)),
      |probed AS (
      |  SELECT t.source, t.term, v.term IS NULL AS oov
      |  FROM tok t LEFT JOIN vocab v ON t.term = v.term)
      |SELECT source, COUNT(*) AS n_tokens,
      |  CAST(SUM(CASE WHEN oov THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
      |  COUNT(DISTINCT CASE WHEN oov THEN term END) AS n_oov_types,
      |  FLOOR(CAST(SUM(CASE WHEN oov THEN 1 ELSE 0 END) AS DOUBLE)
      |        / COUNT(*) * 1e6 + 0.5) / 1e6 AS oov_rate
      |FROM probed
      |GROUP BY source
      |ORDER BY source""".stripMargin

  /** t17 — cross-source n-gram overlap matrix: pairwise Jaccard
    * between each source's distinct 3-gram-shingle set — the corpus
    * forensics view that surfaces near-mirror sources, shared
    * boilerplate pools, and cross-source contamination BEFORE mixture
    * weights (t12) treat the sources as independent.
    *
    * Scale: the per-source gram sets collapse document volume to one
    * row per (source, gram) — df in the self-join is bounded by the
    * NUMBER OF SOURCES (hundreds), not documents, so the gram-keyed
    * join is Σ df² with df ≤ |sources|: no d2-style frequency cap
    * needed. Set sizes broadcast (one row per source). */
  /** DuckDB mirror of `graft_shingle_hash(w, 3)` (same md5 formula
    * as DedupQueries' pipeline). */
  private val shingleGramSql =
    """list_transform(
      |  list_distinct(list_transform(range(1, len(w)-1),
      |    i -> w[i]||' '||w[i+1]||' '||w[i+2])),
      |  s -> CAST(('0x'||substr(md5(s),1,15)) AS BIGINT) % 2147483647)""".stripMargin

  private def t17(s: SparkSession, dir: String): DataFrame = {
    val grams = TextArtifacts.toks(s, dir)
      .filter(col("n_words") >= 3)
      .select(col("source"),
        explode(graft.operators.TextDedup.shingleHashes("w", 3)).as("g"))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    grams.count() // eager: sizes + both self-join sides read it
    val sizes = grams.groupBy(col("source")).agg(count(lit(1)).as("sz"))
    val inter = grams.as("a").hint("shuffle_hash")
      .join(grams.as("b").hint("shuffle_hash"),
        col("a.g") === col("b.g") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("s1"), col("b.source").as("s2"))
      .agg(count(lit(1)).as("common"))
    inter
      .join(broadcast(sizes.select(col("source").as("s1"), col("sz").as("sz1"))), "s1")
      .join(broadcast(sizes.select(col("source").as("s2"), col("sz").as("sz2"))), "s2")
      .select(col("s1"), col("s2"), col("common"),
        fround(col("common").cast("double") /
          (col("sz1") + col("sz2") - col("common")), 6).as("jaccard"))
      .orderBy(col("jaccard").desc, col("s1"), col("s2"))
  }

  private val t17Sql =
    s"""WITH g AS (
      |  SELECT DISTINCT source, UNNEST($shingleGramSql) AS g
      |  FROM (SELECT source, string_split(text, ' ') AS w FROM documents)
      |  WHERE len(w) >= 3),
      |sz AS (SELECT source, COUNT(*) AS sz FROM g GROUP BY source),
      |i AS (SELECT a.source AS s1, b.source AS s2, COUNT(*) AS common
      |      FROM g a JOIN g b ON a.g = b.g AND a.source < b.source
      |      GROUP BY a.source, b.source)
      |SELECT i.s1, i.s2, i.common,
      |  FLOOR(CAST(i.common AS DOUBLE) / (x.sz + y.sz - i.common) * 1e6 + 0.5) / 1e6 AS jaccard
      |FROM i JOIN sz x ON i.s1 = x.source JOIN sz y ON i.s2 = y.source
      |ORDER BY jaccard DESC, s1, s2""".stripMargin

  /** t18 — corpus novelty / crawl-saturation curve: for each document
    * (in doc-id ingest order), the fraction of its distinct 3-gram
    * shingles never seen in ANY earlier document. Falling novelty is
    * the classic stop signal for a crawl ("we're re-reading the
    * web"); the per-source rollup shows which sources still add new
    * material. The sequential-looking definition has a fully parallel
    * form: a gram is novel exactly in the doc holding its MINIMUM
    * doc_id — one agg + one join back, no ordered scan.
    *
    * Scale: gram → min(doc_id) is partial+final (min combines
    * map-side); the join back is keyed on the gram; the rollup
    * buckets docs by id decile so the curve is fixed-width output at
    * any corpus size. */
  private def t18(s: SparkSession, dir: String): DataFrame = {
    val grams = TextArtifacts.toks(s, dir)
      .filter(col("n_words") >= 3)
      .select(col("doc_id"), col("source"),
        explode(graft.operators.TextDedup.shingleHashes("w", 3)).as("g"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    grams.count() // eager: first-seen agg + probe side share it
    val firstSeen = grams.groupBy(col("g")).agg(min(col("doc_id")).as("first_doc"))
    val perDoc = grams
      .join(firstSeen.hint("shuffle_hash"), "g")
      .groupBy(col("doc_id"), col("source"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
          .as("n_novel"))
    // decile buckets over ingest order: a fixed-width novelty curve
    val n = docs(s, dir).agg(max(col("doc_id")).as("mx"))
    perDoc.crossJoin(broadcast(n))
      .withColumn("decile", least(floor(col("doc_id") * 10 / (col("mx") + 1)), lit(9L)))
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_grams")).as("grams"),
        sum(col("n_novel")).as("novel"),
        fround(sum(col("n_novel")).cast("double") / sum(col("n_grams")), 6)
          .as("novelty"))
      .orderBy(col("decile"))
  }

  private val t18Sql =
    s"""WITH g AS (
      |  SELECT doc_id, source, UNNEST($shingleGramSql) AS g
      |  FROM (SELECT doc_id, source, string_split(text, ' ') AS w FROM documents)
      |  WHERE len(w) >= 3),
      |fs AS (SELECT g, MIN(doc_id) AS first_doc FROM g GROUP BY g),
      |pd AS (
      |  SELECT g.doc_id, g.source, COUNT(*) AS n_grams,
      |    SUM(CASE WHEN fs.first_doc = g.doc_id THEN 1 ELSE 0 END) AS n_novel
      |  FROM g JOIN fs ON g.g = fs.g
      |  GROUP BY g.doc_id, g.source),
      |mx AS (SELECT MAX(doc_id) AS mx FROM documents)
      |SELECT CAST(LEAST(FLOOR(pd.doc_id * 10 / (mx.mx + 1)), 9) AS BIGINT) AS decile,
      |  COUNT(*) AS n_docs,
      |  CAST(SUM(pd.n_grams) AS BIGINT) AS grams,
      |  CAST(SUM(pd.n_novel) AS BIGINT) AS novel,
      |  FLOOR(CAST(SUM(pd.n_novel) AS DOUBLE) / SUM(pd.n_grams) * 1e6 + 0.5) / 1e6 AS novelty
      |FROM pd CROSS JOIN mx
      |GROUP BY decile
      |ORDER BY decile""".stripMargin

  /** t19 — dedup-effective token budget: raw whitespace-token mass
    * per source vs the mass surviving near-dup cluster dedup (d6's
    * min-id keepers) — the number that actually matters when sizing
    * a training run, since duplicated tokens add compute but not
    * information. Composes the shared CC clusters with t3's counting;
    * one keyed join + one rollup on top of the d6 machinery.
    */
  private def t19(s: SparkSession, dir: String): DataFrame = {
    val keep = DedupQueries.dupClusters(s, dir)
      .select(col("doc_id"), (col("cluster") === col("doc_id")).as("keep"))
    docs(s, dir)
      .select(col("doc_id"), col("source"),
        expr("size(split(text, ' '))").cast("long").as("toks"))
      .join(keep, "doc_id")
      .groupBy(col("source"))
      .agg(sum(col("toks")).as("raw_tokens"),
        sum(when(col("keep"), col("toks")).otherwise(0L)).as("effective_tokens"))
      .withColumn("dup_ratio",
        fround(lit(1.0) - col("effective_tokens").cast("double") / col("raw_tokens"), 6))
      .orderBy(col("source"))
  }

  private val t19Sql =
    s"""WITH RECURSIVE pairs AS (SELECT d1, d2 FROM (${DedupQueries.d3OracleSql})),
      |sym AS (SELECT d1 AS s, d2 AS t FROM pairs
      |        UNION ALL SELECT d2, d1 FROM pairs),
      |reach(id, r) AS (
      |  SELECT doc_id, doc_id FROM documents
      |  UNION
      |  SELECT reach.id, sym.t FROM reach JOIN sym ON reach.r = sym.s),
      |keep AS (SELECT id AS doc_id, MIN(r) = id AS keep FROM reach GROUP BY id),
      |toks AS (SELECT doc_id, source,
      |           CAST(len(string_split(text, ' ')) AS BIGINT) AS toks
      |         FROM documents)
      |SELECT t.source,
      |  CAST(SUM(t.toks) AS BIGINT) AS raw_tokens,
      |  CAST(SUM(CASE WHEN k.keep THEN t.toks ELSE 0 END) AS BIGINT) AS effective_tokens,
      |  FLOOR((1.0 - CAST(SUM(CASE WHEN k.keep THEN t.toks ELSE 0 END) AS DOUBLE)
      |        / SUM(t.toks)) * 1e6 + 0.5) / 1e6 AS dup_ratio
      |FROM toks t JOIN keep k ON t.doc_id = k.doc_id
      |GROUP BY t.source
      |ORDER BY t.source""".stripMargin

  /** t20 — decontamination APPLY (t11's report turned into the
    * training-set edit): training docs whose benchmark-8-gram overlap
    * reaches 5% are dropped, and the per-source survivor ledger
    * (docs dropped, token mass kept) is what actually feeds the t12
    * mixture step. Same broadcast-benchmark probe as t11 — the gram
    * index never shuffles; the drop set joins back doc-keyed. */
  private def t20(s: SparkSession, dir: String): DataFrame = {
    val grams = TextArtifacts.grams8(s, dir)
    val train = grams.filter(col("doc_id") % 10 =!= 7)
    val dropped = decontamDropIds(s, dir)
      .withColumn("bad", lit(true))
    train
      .select(col("doc_id"), col("source"), col("n_words").as("toks"))
      .join(dropped, Seq("doc_id"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_train_docs"),
        sum(when(col("bad"), 1L).otherwise(0L)).as("n_dropped"),
        sum(when(col("bad").isNull, col("toks")).otherwise(0L))
          .as("surviving_tokens"))
      .orderBy(col("source"))
  }

  /** The decontamination DROP SET (one `doc_id` column): training
    * docs whose distinct benchmark-8-gram overlap reaches the 5% bar
    * (the UNROUNDED ratio — the apply predicate, not t11's rounded
    * report column). Shared by t20 (the per-source apply ledger) and
    * b1_corpus_build (the end-to-end manifest), so both agree on
    * exactly which docs the decontamination stage removes. The bench
    * gram set is broadcast (q21 is the bloom-prefilter shape). It is
    * a TRAIN-ONCE artifact: the quarantine list a pipeline writes once
    * per corpus+benchmark snapshot, consumed by t20's apply ledger and
    * the b1/b2 build manifests. */
  private[graft] def decontamDropIds(s: SparkSession, dir: String): DataFrame =
    DecontamArtifacts(s, dir)

  private def decontamDropIdsBuild(s: SparkSession, dir: String): DataFrame = {
    val grams = TextArtifacts.grams8(s, dir) // t11's index, built once
    // the ONE definition of the benchmark gram index — shared with
    // the streaming recheck so the quarantine list and
    // arrivalContamIds can never disagree on what "benchmark gram"
    // means
    val bench = benchGramIndex(s, dir)
    val train = grams.filter(col("doc_id") % 10 =!= 7)
    train.select(col("doc_id"), expr("size(xs)").cast("long").as("n_grams"),
        explode(col("xs")).as("gram"))
      .join(broadcast(bench), Seq("gram"))
      .groupBy(col("doc_id"), col("n_grams"))
      .agg(countDistinct(col("gram")).as("nc"))
      .filter(col("nc").cast("double") / col("n_grams") >= 0.05)
      .select(col("doc_id"))
  }

  /** The memoized decontamination drop set (id-scale: one long per
    * quarantined doc).
    *
    * DURABLE since round 13: the quarantine list is written once per
    * corpus+benchmark snapshot as a doc_id-bucketed managed table —
    * this is literally what a production decontamination stage
    * publishes (a drop-list table downstream builds consume), and a
    * fresh session attaches to it instead of re-running the 8-gram
    * probe over the whole train split. The set is a deterministic
    * threshold function of the corpus, so attach ≡ rebuild; explicit
    * release retires the table with the snapshot. */
  private object DecontamArtifacts {
    private val reg = new graft.ArtifactRegistry[DataFrame](
      onRetire = (s, dir) => graft.etl.DurableArtifacts.drop(s, tableName(dir)))

    private[queries] def tableName(dir: String): String =
      s"graft_t_quarantine_${graft.ArtifactRegistry.dirTag(dir)}"

    def apply(s: SparkSession, dir: String): DataFrame = reg(s, dir) { b =>
      val nb = s.conf.get("spark.sql.shuffle.partitions", "32").toInt
      b.persist(graft.etl.DurableArtifacts.bucketedTable(
        s, tableName(dir), nb, Seq("doc_id"), Seq("doc_id")) {
        decontamDropIdsBuild(s, dir)
      })
    }
  }

  /** Spec hook for the durable-quarantine lifecycle. */
  private[graft] def quarantineTableName(dir: String): String =
    DecontamArtifacts.tableName(dir)

  /** The distinct benchmark 8-gram index (one `gram` column) — the
    * artifact a CONTINUOUS admission loop needs beside the quarantine
    * id list: the id list enumerates docs the nightly build saw, so a
    * truly new arrival can only be decontaminated by probing its own
    * grams against this index
    * ([[graft.streaming.StreamingAdmission.arrivalContamIds]]).
    * Benchmark suites are MB-scale against a 100 TB corpus — this
    * frame broadcasts (the t11 scale note). */
  private[graft] def benchGramIndex(s: SparkSession, dir: String): DataFrame =
    TextArtifacts.grams8(s, dir)
      .filter(col("doc_id") % 10 === 7)
      .select(explode(col("xs")).as("gram")).distinct()

  private val t20Sql =
    """WITH g AS (
      |  SELECT doc_id, source, len(w) AS toks,
      |    list_distinct(list_transform(
      |      list_transform(range(1, len(w)-6), i -> array_to_string(w[i:i+7], ' ')),
      |      s -> CAST(('0x'||substr(md5(s),1,15)) AS BIGINT) % 2147483647)) AS xs
      |  FROM (SELECT doc_id, source, string_split(text, ' ') AS w FROM documents)
      |  WHERE len(w) >= 8),
      |bg AS (SELECT DISTINCT unnest(xs) AS gram FROM g WHERE doc_id % 10 = 7),
      |tg AS (SELECT * FROM g WHERE doc_id % 10 <> 7),
      |bad AS (
      |  SELECT t.doc_id FROM (
      |    SELECT tg.doc_id, len(tg.xs) AS n_grams, unnest(tg.xs) AS gram
      |    FROM tg) t JOIN bg USING (gram)
      |  GROUP BY t.doc_id, t.n_grams
      |  HAVING CAST(COUNT(DISTINCT t.gram) AS DOUBLE) / t.n_grams >= 0.05)
      |SELECT tg.source, COUNT(*) AS n_train_docs,
      |  CAST(SUM(CASE WHEN bad.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_dropped,
      |  CAST(SUM(CASE WHEN bad.doc_id IS NULL THEN tg.toks ELSE 0 END) AS BIGINT)
      |    AS surviving_tokens
      |FROM tg LEFT JOIN bad ON tg.doc_id = bad.doc_id
      |GROUP BY tg.source
      |ORDER BY tg.source""".stripMargin

  /** t21 — BM25 retrieval scoring: rank the corpus against a fixed
    * query-term set with Okapi BM25 (k1 = 1.2, b = 0.75) and return
    * the top 20 documents — the lexical-retrieval half of a RAG /
    * data-curation stack (t15's TF-IDF profiles sources; BM25 answers
    * queries). The IDF keeps t15's LOG-FREE convention: the classic
    * `ln((N-df+0.5)/(df+0.5))` is monotone in its argument, so
    * ranking by the raw ratio is rank-equivalent and `log` (not
    * correctly rounded across libms) never enters the plan. The
    * per-document score sums per-term contributions in TERM ORDER via
    * an ordered left fold (float recipe 15: Spark `aggregate(slice..)`
    * seeded by the first element ≡ DuckDB `list_reduce`), so the
    * double result is bit-identical in both engines.
    *
    * Scale: tf over the query terms is a corpus scan with a
    * `term IN (...)` pushdown filter before any shuffle; df and the
    * doc-length stats are partial+final aggs; both stat frames are
    * tiny (|Q| rows, 1 row) and broadcast. The final top-20 is
    * `TakeOrderedAndProject` (per-partition heaps, q3's shape) — no
    * global sort, no unpartitioned window. */
  private def t21(s: SparkSession, dir: String): DataFrame = {
    val qTerms = Seq("spark", "window", "join", "stream")
    val d = docs(s, dir)
      .select(col("doc_id"), words.as("w"))
      .withColumn("dl", size(col("w")).cast("long"))
    val stats = d.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("tot_dl"))
    val tf = d.select(col("doc_id"), col("dl"), explode(col("w")).as("term"))
      .filter(col("term").isin(qTerms: _*))
      .groupBy(col("doc_id"), col("dl"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    tf.join(broadcast(dfreq), "term")
      .crossJoin(broadcast(stats))
      .withColumn("avgdl", col("tot_dl").cast("double") / col("n_docs"))
      .withColumn("idf",
        (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
      .withColumn("sterm",
        col("idf") * (col("tf") * lit(2.2)) /
          (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * (col("dl") / col("avgdl")))))
      .groupBy(col("doc_id"), col("dl"))
      .agg(count(lit(1)).as("n_terms"),
        expr("transform(array_sort(collect_list(struct(term, sterm))), " +
          "x -> x.sterm)").as("ss"))
      .withColumn("score", fround(expr(
        "aggregate(slice(ss, 2, size(ss) - 1), ss[0], (acc, x) -> acc + x)"), 6))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(20)
      .select(col("doc_id"), col("dl"), col("n_terms"), col("score"))
      .orderBy(col("score").desc, col("doc_id"))
  }

  private val t21Sql =
    """WITH d AS (
      |  SELECT doc_id, string_split(text, ' ') AS w,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
      |  FROM documents),
      |stats AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS tot_dl FROM d),
      |tf AS (
      |  SELECT doc_id, dl, term, COUNT(*) AS tf FROM (
      |    SELECT doc_id, dl, unnest(w) AS term FROM d) t
      |  WHERE term IN ('spark', 'window', 'join', 'stream')
      |  GROUP BY doc_id, dl, term),
      |dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
      |scored AS (
      |  SELECT tf.doc_id, tf.dl, tf.term,
      |    ((CAST(n_docs AS DOUBLE) - df + 0.5) / (df + 0.5))
      |      * (tf * CAST(2.2 AS DOUBLE))
      |      / (tf + 1.2 * (0.25 + 0.75 * (dl / (CAST(tot_dl AS DOUBLE) / n_docs))))
      |      AS sterm
      |  FROM tf JOIN dfreq USING (term), stats),
      |folded AS (
      |  SELECT doc_id, dl, COUNT(*) AS n_terms,
      |    FLOOR(list_reduce(list(sterm ORDER BY term),
      |                      (acc, x) -> acc + x) * 1e6 + 0.5) / 1e6 AS score
      |  FROM scored GROUP BY doc_id, dl)
      |SELECT doc_id, dl, n_terms, score
      |FROM folded
      |ORDER BY score DESC, doc_id
      |LIMIT 20""".stripMargin

  /** t22 — context-window chunking (the RAG / pretraining document
    * splitter): each document becomes overlapping token windows of
    * size 64 with stride 48 (16-token overlap carries context across
    * boundaries), emitting per chunk its index, start offset, token
    * count and an md5 fingerprint of the reassembled text — the
    * chunk table a retrieval index or a sequence packer (t14)
    * consumes. Start offsets are the stride grid 0, 48, 96, … up to
    * the last multiple covering the tail, so every token lands in
    * ≥1 chunk and chunk boundaries are reproducible from (doc, idx)
    * alone. All integer arithmetic — both engines compute identical
    * grids — and the fingerprint hash-gates the chunk CONTENT, not
    * just its shape.
    *
    * Scale: pure map-side explode (fan-out ×n/stride, no shuffle —
    * the ORDER BY is gate-only); `sequence`/`slice`/`array_join`
    * are native codegen'd array ops, no lambdas. At 100 TB this is
    * the embarrassingly parallel stage before embedding. */
  private def t22(s: SparkSession, dir: String): DataFrame = {
    val (w, st) = (64, 48)
    val toks = split(col("text"), " ")
    val n = org.apache.spark.sql.functions.size(toks)
    // last start = smallest stride multiple with start + w >= n
    val lastStart = (greatest(n - w, lit(0)) + (st - 1)).divide(st)
      .cast("int") * st
    docs(s, dir)
      .select(col("doc_id"), toks.as("toks"), n.as("n"),
        posexplode(sequence(lit(0), lastStart, lit(st)))
          .as(Seq("chunk_idx", "start_tok")))
      .select(col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"),
        col("start_tok").cast("long").as("start_tok"),
        slice(col("toks"), col("start_tok") + 1, lit(w)).as("chunk"))
      .select(col("doc_id"), col("chunk_idx"), col("start_tok"),
        org.apache.spark.sql.functions.size(col("chunk")).cast("long")
          .as("n_tok"),
        md5(array_join(col("chunk"), " ")).as("fp"))
      .orderBy(col("doc_id"), col("chunk_idx"))
  }

  private val t22Sql =
    """WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      |g AS (SELECT doc_id, toks,
      |    ((GREATEST(len(toks) - 64, 0) + 47) // 48) * 48 AS last_start
      |  FROM d),
      |c AS (SELECT doc_id, toks,
      |    unnest(range(0, last_start + 1, 48)) AS start_tok
      |  FROM g)
      |SELECT doc_id, CAST(start_tok // 48 AS BIGINT) AS chunk_idx,
      |  CAST(start_tok AS BIGINT) AS start_tok,
      |  CAST(len(list_slice(toks, start_tok + 1, start_tok + 64)) AS BIGINT) AS n_tok,
      |  md5(array_to_string(list_slice(toks, start_tok + 1, start_tok + 64), ' ')) AS fp
      |FROM c ORDER BY doc_id, chunk_idx""".stripMargin

  /** t23 — token-budget curriculum cut (data budgeting): sources
    * ranked by stopword-density quality (the t1 signal, exact
    * integer numerator/denominator), then a 50%-of-corpus token
    * budget fills greedily down the ranking — whole sources until
    * the straddler, which contributes a fractional sampling rate.
    * Emits per source: rank, tokens, quality, tokens already
    * committed above it, the include flag and the take fraction —
    * the plan a mixture sampler (t13's machinery) executes. The
    * fill LAW (Σ tokens·take_frac = budget when the corpus
    * overfills it) is spec'd.
    *
    * Determinism: ranking compares exact integer cross-products
    * (num_a·den_b vs num_b·den_a — no float ordering), ties by
    * source; take_frac derives from integer budget/cum values with
    * one double division, floor-rounded to 1e-6 (the s7
    * convention).
    *
    * Scale: per-source stats are one partial+final agg; the
    * ranking/prefix machinery runs on the SOURCE-cardinality frame
    * (metadata-scale at any SF) via a triangular broadcast
    * self-join — no window, no funnel, the OffsetWindow-offsets
    * pattern. */
  private def t23(s: SparkSession, dir: String): DataFrame = {
    val bySrc = docs(s, dir)
      .select(col("source"), words.as("w"))
      .select(col("source"),
        org.apache.spark.sql.functions.size(col("w")).cast("long").as("n"),
        stopCount.as("stops"))
      .groupBy(col("source"))
      .agg(sum(col("n")).as("tokens"), sum(col("stops")).as("stop_num"))
    val total = bySrc.agg(sum(col("tokens")).as("corpus_tokens"),
      (sum(col("tokens")) / 2).cast("long").as("budget"))
    // strictly-better = higher stop density, tie → smaller source id;
    // integer cross-product comparison, no float ordering
    val better = col("b.stop_num") * col("a.tokens") >
      col("a.stop_num") * col("b.tokens") ||
      (col("b.stop_num") * col("a.tokens") ===
        col("a.stop_num") * col("b.tokens") &&
        col("b.source") < col("a.source"))
    val ranked = bySrc.as("a")
      .join(broadcast(bySrc.as("b")), better, "left")
      .groupBy(col("a.source"), col("a.tokens"), col("a.stop_num"))
      .agg(count(col("b.source")).as("n_better"),
        coalesce(sum(col("b.tokens")), lit(0L)).as("cum_prev"))
    ranked.crossJoin(broadcast(total))
      .select(col("source"), (col("n_better") + 1).as("rank"),
        col("tokens"),
        fround(col("stop_num").cast("double") / col("tokens").cast("double"), 6)
          .as("quality"),
        col("cum_prev"), col("budget"),
        (col("cum_prev") < col("budget")).as("included"),
        (floor(least(lit(1.0),
          greatest(lit(0.0),
            (col("budget") - col("cum_prev")).cast("double") /
              col("tokens").cast("double"))) * 1e6 + 0.5) / 1e6)
          .as("take_frac"))
      .orderBy(col("rank"))
  }

  private val t23Sql =
    """WITH bysrc AS (
      |  SELECT source, CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS tokens,
      |    CAST(SUM(len(list_filter(string_split(text, ' '),
      |      x -> x = 'the' OR x = 'a' OR x = 'of' OR x = 'and' OR x = 'to'
      |        OR x = 'in' OR x = 'is' OR x = 'it'))) AS BIGINT) AS stop_num
      |  FROM documents GROUP BY source),
      |tot AS (SELECT CAST(SUM(tokens) AS BIGINT) AS corpus_tokens,
      |    CAST(SUM(tokens) // 2 AS BIGINT) AS budget FROM bysrc),
      |ranked AS (
      |  SELECT a.source, a.tokens, a.stop_num,
      |    COUNT(b.source) AS n_better,
      |    COALESCE(CAST(SUM(b.tokens) AS BIGINT), 0) AS cum_prev
      |  FROM bysrc a LEFT JOIN bysrc b
      |    ON b.stop_num * a.tokens > a.stop_num * b.tokens
      |    OR (b.stop_num * a.tokens = a.stop_num * b.tokens
      |        AND b.source < a.source)
      |  GROUP BY a.source, a.tokens, a.stop_num)
      |SELECT source, CAST(n_better + 1 AS BIGINT) AS rank, tokens,
      |  FLOOR(CAST(stop_num AS DOUBLE) / CAST(tokens AS DOUBLE) * 1e6 + 0.5) / 1e6 AS quality,
      |  cum_prev, budget, cum_prev < budget AS included,
      |  FLOOR(LEAST(CAST(1.0 AS DOUBLE), GREATEST(CAST(0.0 AS DOUBLE),
      |    CAST(budget - cum_prev AS DOUBLE) / CAST(tokens AS DOUBLE)))
      |    * 1e6 + 0.5) / 1e6 AS take_frac
      |FROM ranked, tot ORDER BY rank""".stripMargin

  /** t24 — boilerplate-chunk profile (the RefinedWeb/CCNet LINE-dedup
    * curation step, expressed over 10-word chunks since this corpus
    * has no newlines): a chunk that recurs across ≥2 distinct docs of
    * the same source is boilerplate (headers, footers, nav text,
    * license blurbs — at web scale the threshold is higher and
    * per-snapshot); report, per source, the chunk-key and instance
    * counts, the token mass, and what survives the strip. The
    * output is the evidence table a pipeline uses to pick its
    * strip threshold before applying it.
    *
    * Determinism: chunks are fixed 10-word windows (last one ragged)
    * keyed by md5 of the exact chunk text — both engines derive the
    * identical key from the rule; every metric is integer counting.
    *
    * Scale: this is deliberately JOIN-FREE — the strip decision is a
    * function of the chunk KEY, so everything aggregates in two
    * partial+final hash aggs (doc→chunk-key, chunk-key→source); the
    * hot boilerplate keys (df up to all docs of a source) never join
    * back to instances, which is the classic skew trap this shape
    * avoids (PlanAuditSpec locks the no-join plan). ~N/10 chunk rows
    * for an N-token corpus, shuffled once on (source, key). */
  private def t24(s: SparkSession, dir: String): DataFrame = {
    val chunked = docs(s, dir)
      .withColumn("w", words)
      .filter(size(col("w")) >= 1)
      .select(col("doc_id"), col("source"), posexplode(expr(
        "transform(sequence(0, CAST(ceil(size(w)/10.0) AS INT) - 1), " +
          "i -> array_join(slice(w, i*10+1, 10), ' '))"))
        .as(Seq("ci", "chunk")))
      .select(col("doc_id"), col("source"), md5(col("chunk")).as("ck"),
        size(split(col("chunk"), " ")).cast("long").as("cw"))
    val keyed = chunked.groupBy(col("source"), col("ck"))
      .agg(max(col("cw")).as("cw"), count(lit(1)).as("n_inst"),
        countDistinct(col("doc_id")).as("df"))
    val boiler = col("df") >= 2
    keyed.groupBy(col("source"))
      .agg(count(lit(1)).as("n_chunk_keys"),
        sum(when(boiler, 1L).otherwise(0L)).as("n_boiler_keys"),
        sum(col("n_inst")).as("n_chunks"),
        sum(when(boiler, col("n_inst")).otherwise(0L)).as("n_boiler_instances"),
        sum(col("cw") * col("n_inst")).as("tokens_total"),
        sum(when(!boiler, col("cw") * col("n_inst")).otherwise(0L))
          .as("tokens_kept"))
      .withColumn("boiler_frac",
        fround(col("n_boiler_instances").cast("double") / col("n_chunks"), 6))
      .orderBy(col("source"))
  }

  private val t24Sql =
    """WITH g AS (SELECT doc_id, source, string_split(text, ' ') AS w
      |  FROM documents),
      |ch AS (SELECT doc_id, source,
      |    md5(array_to_string(w[i*10+1:i*10+10], ' ')) AS ck,
      |    CAST(len(w[i*10+1:i*10+10]) AS BIGINT) AS cw
      |  FROM g, unnest(range(CAST(ceil(len(w)/10.0) AS BIGINT))) t(i)
      |  WHERE len(w) >= 1),
      |k AS (SELECT source, ck, MAX(cw) AS cw, COUNT(*) AS n_inst,
      |    COUNT(DISTINCT doc_id) AS df
      |  FROM ch GROUP BY 1, 2)
      |SELECT source, COUNT(*) AS n_chunk_keys,
      |  CAST(SUM(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler_keys,
      |  CAST(SUM(n_inst) AS BIGINT) AS n_chunks,
      |  CAST(SUM(CASE WHEN df >= 2 THEN n_inst ELSE 0 END) AS BIGINT)
      |    AS n_boiler_instances,
      |  CAST(SUM(cw * n_inst) AS BIGINT) AS tokens_total,
      |  CAST(SUM(CASE WHEN df < 2 THEN cw * n_inst ELSE 0 END) AS BIGINT)
      |    AS tokens_kept,
      |  FLOOR(CAST(SUM(CASE WHEN df >= 2 THEN n_inst ELSE 0 END) AS DOUBLE)
      |    / SUM(n_inst) * 1e6 + 0.5) / 1e6 AS boiler_frac
      |FROM k GROUP BY source
      |ORDER BY source""".stripMargin

  /** t26 — Heaps-law VOCABULARY GROWTH: per source, distinct-word
    * (vocabulary) and token counts at nested 10% / 50% / 100% corpus
    * prefixes, plus the fitted Heaps exponent β (V ≈ K·T^β, so
    * β = ln(V₁₀₀/V₁₀)/ln(T₁₀₀/T₁₀)) — the standard diagnostic for
    * tokenizer/vocab sizing and for spotting template-heavy sources
    * (β near 0: vocabulary saturates; natural text sits ~0.4-0.6).
    *
    * Prefixes are VALUE-based on doc_id (min + frac·(max−min) per
    * source, a broadcast min/max agg) rather than rank-based — same
    * curve on dense ids, but no per-source rank window (a rank
    * prefix needs a window partitioned by source, a hot partition
    * when one source holds billions of docs). One explode pass, the
    * three nested prefixes as conditional aggregates (Spark plans
    * multi-countDistinct via Expand — 3× rows shuffled once, still
    * one pass over the corpus). β rounded to 1e-4 (ln on both
    * engines; 1e-6 would gamble on libm ulps). */
  private def t26(s: SparkSession, dir: String): DataFrame = {
    val bounds = docs(s, dir).groupBy(col("source"))
      .agg(min(col("doc_id")).as("lo"), max(col("doc_id")).as("hi"))
    val w = docs(s, dir)
      .join(broadcast(bounds), "source")
      .select(col("source"), col("doc_id"), col("lo"), col("hi"),
        explode(words).as("word"))
    // integer division on both engines — a float threshold would
    // gamble on cast semantics (DuckDB rounds double→int, Spark
    // truncates)
    val in10 = col("doc_id") <= col("lo") + expr("(hi - lo) div 10")
    val in50 = col("doc_id") <= col("lo") + expr("(hi - lo) div 2")
    w.groupBy(col("source"))
      .agg(
        sum(when(in10, 1L).otherwise(0L)).as("tokens_10"),
        countDistinct(when(in10, col("word"))).as("vocab_10"),
        sum(when(in50, 1L).otherwise(0L)).as("tokens_50"),
        countDistinct(when(in50, col("word"))).as("vocab_50"),
        count(lit(1)).as("tokens_full"),
        countDistinct(col("word")).as("vocab_full"))
      // guard the degenerate prefix (lo == hi ⇒ the 10% prefix IS the
      // full corpus ⇒ ln(1)/ln(1) = 0/0): emit NULL explicitly in
      // both engines instead of betting the hash on DuckDB's
      // ieee_floating_point_ops default producing the same NaN
      .withColumn("heaps_beta",
        when(col("tokens_full") === col("tokens_10"), lit(null))
          .otherwise(fround(
            log(col("vocab_full").cast("double") / col("vocab_10")) /
              log(col("tokens_full").cast("double") / col("tokens_10")), 4)))
      .orderBy(col("source"))
  }

  private val t26Sql =
    """WITH b AS (SELECT source, MIN(doc_id) AS lo, MAX(doc_id) AS hi
      |           FROM documents GROUP BY source),
      |w AS (SELECT d.source, d.doc_id, b.lo, b.hi, u.word
      |      FROM documents d JOIN b ON d.source = b.source,
      |           UNNEST(string_split(d.text, ' ')) AS u(word)),
      |agg AS (SELECT source,
      |  CAST(SUM(CASE WHEN doc_id <= lo + (hi - lo) // 10
      |           THEN 1 ELSE 0 END) AS BIGINT) AS tokens_10,
      |  COUNT(DISTINCT CASE WHEN doc_id <= lo + (hi - lo) // 10
      |           THEN word END) AS vocab_10,
      |  CAST(SUM(CASE WHEN doc_id <= lo + (hi - lo) // 2
      |           THEN 1 ELSE 0 END) AS BIGINT) AS tokens_50,
      |  COUNT(DISTINCT CASE WHEN doc_id <= lo + (hi - lo) // 2
      |           THEN word END) AS vocab_50,
      |  COUNT(*) AS tokens_full,
      |  COUNT(DISTINCT word) AS vocab_full
      |  FROM w GROUP BY source)
      |SELECT source, tokens_10, vocab_10, tokens_50, vocab_50,
      |  tokens_full, vocab_full,
      |  CASE WHEN tokens_full = tokens_10 THEN NULL
      |       ELSE FLOOR(ln(CAST(vocab_full AS DOUBLE) / vocab_10) /
      |                  ln(CAST(tokens_full AS DOUBLE) / tokens_10) * 1e4 + 0.5) / 1e4
      |  END AS heaps_beta
      |FROM agg ORDER BY source""".stripMargin

  /** t27 — EXACT-BUDGET systematic PPS sample per source: order docs
    * by doc_id, accumulate token weight, and pick every doc whose
    * cumulative weight crosses one of N = 64 equal-width thresholds
    * of the source's total (classic systematic
    * probability-proportional-to-size sampling). Complements the two
    * existing samplers with the property neither has: t6 is
    * fixed-count-per-stratum (ignores weight), t13 is per-doc
    * Bernoulli (hits the mixture rate only in EXPECTATION — at small
    * budgets the realized token mass varies run to run at real
    * scale); systematic PPS hits the token budget exactly — each
    * inter-pick gap is exactly tot/N tokens, so the sample is
    * token-uniform across the corpus with ZERO budget variance, and
    * returns exactly N docs unless a single doc spans multiple steps
    * (then fewer, each still weight-proportional).
    *
    * Determinism: pure BIGINT arithmetic — cumulative sums over a
    * (source, doc_id)-ordered window and integer division (`div` ≡
    * DuckDB `//`); no floats, no RNG (the doc_id order IS the
    * systematic walk — equivalent to the textbook random-start walk
    * with start fixed at 0, which is the reproducibility contract a
    * training pipeline wants anyway). Overflow bound: cum·N must fit
    * a signed 64-bit — fine to ~1.4e17 total tokens per source at
    * N = 64; past that, lift to DECIMAL(38,0).
    *
    * Scale: one window cumsum partitioned by source (high
    * cardinality partitions: no single-reducer funnel), a tiny
    * per-source totals broadcast, and a filter — one shuffle by
    * source, no self-joins, output is N·sources rows. */
  private def t27(s: SparkSession, dir: String): DataFrame = {
    val n = 64
    val wCum = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val weighted = docs(s, dir)
      .select(col("source"), col("doc_id"),
        expr("size(split(text, ' '))").cast("long").as("n_tokens"))
    val tot = weighted.groupBy(col("source"))
      .agg(sum(col("n_tokens")).as("tot"))
    weighted
      .withColumn("cum", sum(col("n_tokens")).over(wCum))
      .join(broadcast(tot), "source")
      .filter(expr(s"(cum * $n) div tot") >
        expr(s"((cum - n_tokens) * $n) div tot"))
      .select(col("source"), col("doc_id"), col("n_tokens"),
        expr(s"((cum - n_tokens) * $n) div tot").cast("long")
          .as("step_idx"))
      .orderBy(col("source"), col("doc_id"))
  }

  private val t27Sql =
    """WITH weighted AS (
      |  SELECT source, doc_id,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      |  FROM documents),
      |cum AS (
      |  SELECT source, doc_id, n_tokens,
      |    SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
      |      ROWS UNBOUNDED PRECEDING) AS cum
      |  FROM weighted),
      |tot AS (SELECT source, SUM(n_tokens) AS tot FROM weighted GROUP BY source)
      |SELECT c.source, c.doc_id, c.n_tokens,
      |  CAST(((c.cum - c.n_tokens) * 64) // t.tot AS BIGINT) AS step_idx
      |FROM cum c JOIN tot t ON c.source = t.source
      |WHERE (c.cum * 64) // t.tot > ((c.cum - c.n_tokens) * 64) // t.tot
      |ORDER BY c.source, c.doc_id""".stripMargin

  /** t28 — per-source DOMAIN-SHIFT diagnostic for data mixing:
    * KL(source ‖ corpus) over unigram distributions, in nats. t12
    * chooses mixture weights and t13 samples them; this is the
    * monitoring leg that tells you WHEN re-weighting is due — a
    * source whose KL to the corpus mix grows between snapshots is
    * drifting away from the distribution the weights were tuned on
    * (the DoReMi-style loop's trigger signal). Exact KL: the sum runs
    * over precisely the source's observed vocabulary (p > 0), and
    * q > 0 always since the corpus marginal dominates each source.
    * Also reports the argmax-contribution word per source — the
    * one-token answer to "what is this source over-represented in".
    *
    * Determinism: each term ln((c_sw·N)/(n_s·c_w)) is identical IEEE
    * ops on exact integer inputs both engines (ln cross-engine at
    * 1e-9 is the t26 precedent); terms snap to fixed-point 1e-9
    * BIGINTs and the per-source sum is an order-independent integer
    * sum (recipe #17), so parallel aggregation order cannot move the
    * result. Argmax tie-break: (contrib, word) descending — computed
    * as `max(struct(tfp, word))` (lexicographic struct max) in the
    * SAME aggregate as the KL sum, so the term frame is consumed by
    * exactly one partial+final agg instead of two branches (the
    * windowed-rank formulation planned the whole (source, word)
    * cascade twice — once per unfused branch).
    *
    * Scale shape: rides the tokenize-once [[TextArtifacts.toks]]
    * frame; everything downstream is partial+final hash aggs keyed
    * (source, word) → word → source (no windows over events, no
    * collects); the 1-row corpus total and |sources|-row totals
    * broadcast. */
  private def t28(s: SparkSession, dir: String): DataFrame = {
    val toks = TextArtifacts.toks(s, dir)
    val sw = toks.select(col("source"), explode(col("w")).as("word"))
      .groupBy(col("source"), col("word")).agg(count(lit(1)).as("c_sw"))
    val ns = toks.groupBy(col("source")).agg(sum(col("n_words")).as("n_s"))
    val cw = sw.groupBy(col("word")).agg(sum(col("c_sw")).as("c_w"))
    val tot = ns.agg(sum(col("n_s")).as("n_tot"))
    val terms = sw.join(cw, Seq("word"))
      .join(broadcast(ns), Seq("source"))
      .crossJoin(broadcast(tot))
      .withColumn("term",
        (col("c_sw").cast("double") / col("n_s")) *
          log((col("c_sw").cast("double") * col("n_tot")) /
            (col("n_s").cast("double") * col("c_w"))))
      .withColumn("tfp", floor(col("term") * 1e9 + 0.5).cast("long"))
    val agg = terms.groupBy(col("source"))
      .agg(count(lit(1)).as("vocab"), sum(col("tfp")).as("sfp"),
        max(struct(col("tfp"), col("word"))).as("top"))
      .select(col("source"), col("vocab"),
        fround(col("sfp") / 1e9, 6).as("kl_nats"),
        col("top.word").as("top_word"),
        fround(col("top.tfp") / 1e9, 6).as("top_contrib"))
    agg.join(broadcast(ns), Seq("source"))
      .select(col("source"), col("n_s").as("n_tokens"), col("vocab"),
        col("kl_nats"), col("top_word"), col("top_contrib"))
      .orderBy(col("source"))
  }

  private val t28Sql =
    """WITH toks AS (
      |  SELECT doc_id, source, string_split(text, ' ') AS w FROM documents),
      |sw AS (
      |  SELECT source, word, COUNT(*) AS c_sw
      |  FROM (SELECT source, unnest(w) AS word FROM toks) u
      |  GROUP BY source, word),
      |ns AS (SELECT source, CAST(SUM(len(w)) AS BIGINT) AS n_s
      |       FROM toks GROUP BY source),
      |cw AS (SELECT word, CAST(SUM(c_sw) AS BIGINT) AS c_w
      |       FROM sw GROUP BY word),
      |tot AS (SELECT CAST(SUM(n_s) AS BIGINT) AS n_tot FROM ns),
      |terms AS (
      |  SELECT sw.source, sw.word,
      |    CAST(FLOOR((CAST(sw.c_sw AS DOUBLE) / ns.n_s) *
      |      ln((CAST(sw.c_sw AS DOUBLE) * tot.n_tot) /
      |         (CAST(ns.n_s AS DOUBLE) * cw.c_w)) * 1e9 + 0.5) AS BIGINT) AS tfp
      |  FROM sw JOIN cw USING (word) JOIN ns USING (source) CROSS JOIN tot),
      |top AS (
      |  SELECT source, word AS top_word, FLOOR(tfp / 1e9 * 1e6 + 0.5) / 1e6 AS top_contrib
      |  FROM (SELECT source, word, tfp,
      |          ROW_NUMBER() OVER (PARTITION BY source
      |            ORDER BY tfp DESC, word DESC) AS rk
      |        FROM terms) r
      |  WHERE rk = 1),
      |agg AS (
      |  SELECT source, CAST(COUNT(*) AS BIGINT) AS vocab,
      |    FLOOR(CAST(SUM(tfp) AS BIGINT) / 1e9 * 1e6 + 0.5) / 1e6 AS kl_nats
      |  FROM terms GROUP BY source)
      |SELECT a.source, ns.n_s AS n_tokens, a.vocab, a.kl_nats,
      |  t.top_word, t.top_contrib
      |FROM agg a JOIN ns USING (source) JOIN top t ON a.source = t.source
      |ORDER BY a.source""".stripMargin

  /** t29 — CURRICULUM mixture schedule: the per-epoch generalization
    * of t12's static mixture. Epoch e of 4 trains on a blend that
    * interpolates from the corpus's NATURAL source distribution
    * toward the temperature-flattened t12 target — α = e/4, share =
    * (1−α)·natural + α·target — the standard curriculum/annealing
    * recipe (start on the raw distribution, finish on the rebalanced
    * mix). Each epoch's 10k-token budget is then allocated to
    * sources as EXACT integers by largest-remainder (Hamilton)
    * apportionment: floor every share·B, hand the leftover tokens to
    * the largest fractional remainders (ties by source name) — so
    * every epoch's allocation sums to exactly B and no float ever
    * reaches the training manifest.
    *
    * Determinism: α = e/4 and the interpolation are single IEEE ops
    * on identically-derived operands (t12's √-share convention, the
    * sorted-fold denominator), so both engines floor the same
    * doubles; everything after is integer.
    *
    * Scale: one corpus scan for the per-source token totals; the
    * schedule itself is #sources × #epochs rows of window math. */
  private def t29(s: SparkSession, dir: String): DataFrame = {
    val epochsN = t29EpochsN
    val budget = t29Budget
    val src = docs(s, dir).groupBy(col("source"))
      .agg(sum(expr("size(split(text, ' '))").cast("long")).as("n_tokens"))
    val tot = src.agg(sum(col("n_tokens")).as("t"))
    val w = src.crossJoin(broadcast(tot))
      .withColumn("rawf", col("n_tokens").cast("double") / col("t"))
      .withColumn("sw", sqrt(col("rawf")))
    val den = w.agg(
      expr("aggregate(transform(array_sort(collect_list(struct(source, sw))), " +
        "s -> s.sw), cast(0.0 AS double), (acc, x) -> acc + x)").as("d"))
    val epochs = s.range(1, epochsN + 1L).toDF("epoch")
    val sched = w.crossJoin(broadcast(den))
      .withColumn("tempf", col("sw") / col("d"))
      .crossJoin(broadcast(epochs))
      .withColumn("alpha", col("epoch").cast("double") / lit(epochsN.toDouble))
      .withColumn("share",
        (lit(1.0) - col("alpha")) * col("rawf") +
          col("alpha") * col("tempf"))
      .withColumn("x", col("share") * lit(budget.toDouble))
      .withColumn("q", floor(col("x")))
      .withColumn("rem", col("x") - floor(col("x")))
    val wE = Window.partitionBy(col("epoch"))
    val wR = Window.partitionBy(col("epoch"))
      .orderBy(col("rem").desc, col("source"))
    sched
      .withColumn("leftover", lit(budget) - sum(col("q")).over(wE))
      .withColumn("rrk", row_number().over(wR))
      .select(col("epoch"), col("source"),
        fround(col("share"), 6).as("share"),
        (col("q") + when(col("rrk") <= col("leftover"), 1L).otherwise(0L))
          .as("alloc_tokens"))
      .orderBy(col("epoch"), col("source"))
  }

  /** The t29 schedule constants — single-sourced for BOTH the Spark
    * side and the DuckDB oracle (changing one changes both). */
  private val t29EpochsN = 4
  private val t29Budget = 10000L

  private val t29Sql =
    s"""WITH src AS (
      |  SELECT source,
      |    CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
      |  FROM documents GROUP BY source),
      |tot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS t FROM src),
      |w AS (
      |  SELECT source,
      |    CAST(n_tokens AS DOUBLE) / t AS rawf,
      |    sqrt(CAST(n_tokens AS DOUBLE) / t) AS sw
      |  FROM src, tot),
      |den AS (SELECT list_sum(list(sw ORDER BY source)) AS d FROM w),
      |sched AS (
      |  SELECT e.epoch, w.source,
      |    (CAST(1 AS DOUBLE) - CAST(e.epoch AS DOUBLE) / $t29EpochsN) * w.rawf
      |      + (CAST(e.epoch AS DOUBLE) / $t29EpochsN) * (w.sw / den.d) AS share
      |  FROM w, den, (SELECT unnest(range(1, ${t29EpochsN + 1})) AS epoch) e),
      |q AS (
      |  SELECT epoch, source, share,
      |    CAST(floor(share * CAST($t29Budget AS DOUBLE)) AS BIGINT) AS q,
      |    share * CAST($t29Budget AS DOUBLE)
      |      - floor(share * CAST($t29Budget AS DOUBLE)) AS rem
      |  FROM sched),
      |a AS (
      |  SELECT epoch, source, share, q, rem,
      |    $t29Budget - SUM(q) OVER (PARTITION BY epoch) AS leftover,
      |    ROW_NUMBER() OVER (PARTITION BY epoch ORDER BY rem DESC, source)
      |      AS rrk
      |  FROM q)
      |SELECT CAST(epoch AS BIGINT) AS epoch, source,
      |  FLOOR(share * 1e6 + 0.5) / 1e6 AS share,
      |  CAST(q + CASE WHEN rrk <= leftover THEN 1 ELSE 0 END AS BIGINT)
      |    AS alloc_tokens
      |FROM a ORDER BY epoch, source""".stripMargin

  /** t30 — weighted sampling WITHOUT replacement (the curation
    * primitive behind "sample K docs ∝ weight" mix construction):
    * Efraimidis–Spirakis in its exponential-clocks form — each doc
    * draws key = −ln(u)/w with u a deterministic content-independent
    * uniform from the doc id's md5 (52-bit prefix, exactly
    * representable in a double, shifted to (0,1] so ln never sees 0)
    * and w = the doc's token count; the K smallest keys ARE a
    * weighted sample without replacement (the classic one-pass
    * A-ES result — P(doc first) = w/Σw, recursively thereafter).
    * Deterministic end to end, so the DuckDB oracle replays the
    * identical arithmetic and the SELECTION ITSELF is hash-gated,
    * not just its size.
    *
    * Scale: this is the 100 TB sampling shape — ONE corpus scan into
    * [[graft.functions.TopKAgg]] (O(K) buffer, map-side partials,
    * only K rows per partition cross the wire), never a global sort
    * or a rank window; the K-row id set broadcasts back for the
    * payload join. Weights come from data already in the row, so no
    * second pass. (q23's KMV bottom-k is the same kernel — a
    * weighted sample with w ≡ 1 IS a KMV sketch.) */
  private def t30(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.udaf
    val k = 200
    val bottomk = udaf(new graft.functions.TopKAgg(k))
    val d = docs(s, dir)
      .select(col("doc_id"), col("source"), words.as("w"))
      .withColumn("n_tokens", expr("size(w)").cast("long"))
      .withColumn("h",
        conv(substring(md5(col("doc_id").cast("string")), 1, 13), 16, 10)
          .cast("long"))
      .withColumn("key",
        -log((col("h") + 1).cast("double") / lit(4503599627370496.0)) /
          col("n_tokens").cast("double"))
    val sel = d.agg(bottomk(-col("key"), col("doc_id")).as("mins"))
      .select(explode(col("mins")).as("e"))
      .select(col("e").getField("id").as("doc_id"))
    d.join(broadcast(sel), Seq("doc_id"), "left_semi")
      .select(col("doc_id"), col("source"), col("n_tokens"))
      .orderBy(col("doc_id"))
  }

  private val t30Sql =
    """WITH d AS (
      |  SELECT doc_id, source,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
      |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 13)) AS BIGINT) AS h
      |  FROM documents),
      |keyed AS (
      |  SELECT doc_id, source, n_tokens,
      |    -ln((CAST(h AS DOUBLE) + 1) / CAST(4503599627370496 AS DOUBLE))
      |      / CAST(n_tokens AS DOUBLE) AS key
      |  FROM d),
      |r AS (SELECT doc_id, source, n_tokens,
      |    ROW_NUMBER() OVER (ORDER BY key, doc_id) AS rk FROM keyed)
      |SELECT doc_id, source, n_tokens FROM r WHERE rk <= 200
      |ORDER BY doc_id""".stripMargin

  /** t31 — sequence-BUCKETING padding-waste sweep (the d18 operating-
    * point pattern applied to training-batch economics): when batches
    * are formed within length buckets and every sequence pads to its
    * bucket's max, the padding waste is a function of HOW MANY
    * buckets you run — 1 bucket = pad-to-global-max (worst), more
    * buckets = tighter fit but smaller/more batches. For each bucket
    * count k ∈ {1,2,4,8,16} (equal-width over the fixed cap 128),
    * report buckets actually used, real token mass, padded tokens
    * (Σ per bucket: n·max − Σlen — the upper bound batch-level
    * packing can only improve on), and the waste fraction. The
    * numbers every trainer reads before picking a bucketing config.
    *
    * Determinism: everything is INTEGER until the final fraction —
    * lengths, bucket ids (floor of an exact small-int product over
    * 128), maxima, sums — so the sweep is bit-stable cross-engine by
    * construction.
    *
    * Scale: ONE corpus scan exploded by the 5 k-values, then a
    * partial+final agg on (k, bucket) (≤ 5×16 groups) and a
    * metadata-scale rollup — no joins, no windows. */
  private def t31(s: SparkSession, dir: String): DataFrame = {
    val ks = Seq(1, 2, 4, 8, 16)
    val cap = 128
    val d = docs(s, dir)
      .select(least(expr("size(split(text, ' '))"), lit(cap - 1))
        .cast("long").as("len"))
      .select(col("len"), explode(lit(ks.toArray)).as("k"))
      .withColumn("bucket",
        floor((col("len") * col("k")).cast("double") / cap).cast("long"))
    d.groupBy(col("k"), col("bucket"))
      .agg(count(lit(1)).as("n"), max(col("len")).as("mx"),
        sum(col("len")).as("tok"))
      .groupBy(col("k"))
      .agg(count(lit(1)).as("buckets_used"),
        sum(col("tok")).as("real_tokens"),
        sum(col("n") * col("mx") - col("tok")).as("padded_tokens"))
      .select(col("k").cast("long").as("k"), col("buckets_used"),
        col("real_tokens"), col("padded_tokens"),
        fround(col("padded_tokens").cast("double") /
          (col("real_tokens") + col("padded_tokens")), 6).as("waste_frac"))
      .orderBy(col("k"))
  }

  private val t31Sql =
    """WITH d AS (
      |  SELECT LEAST(len(string_split(text, ' ')), 127) AS len
      |  FROM documents),
      |e AS (
      |  SELECT d.len, k.k,
      |    CAST(FLOOR(CAST(d.len * k.k AS DOUBLE) / 128) AS BIGINT) AS bucket
      |  FROM d CROSS JOIN (SELECT unnest([1, 2, 4, 8, 16]) AS k) k),
      |g AS (
      |  SELECT k, bucket, COUNT(*) AS n, MAX(len) AS mx,
      |    CAST(SUM(len) AS BIGINT) AS tok
      |  FROM e GROUP BY k, bucket)
      |SELECT CAST(k AS BIGINT) AS k, COUNT(*) AS buckets_used,
      |  CAST(SUM(tok) AS BIGINT) AS real_tokens,
      |  CAST(SUM(n * mx - tok) AS BIGINT) AS padded_tokens,
      |  FLOOR(CAST(SUM(n * mx - tok) AS DOUBLE) /
      |        (SUM(tok) + SUM(n * mx - tok)) * 1e6 + 0.5) / 1e6 AS waste_frac
      |FROM g GROUP BY k ORDER BY k""".stripMargin

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "t31_padding_sweep" -> t31,
    "t30_weighted_sample" -> t30,
    "t29_mix_schedule" -> t29,
    "t28_mix_kl" -> t28,
    "t27_systematic_sample" -> t27,
    "t26_vocab_growth" -> t26,
    "t24_boilerplate"    -> t24,
    "t23_token_budget"   -> t23,
    "t22_chunking"       -> t22,
    "t21_bm25"           -> t21,
    "t20_decontam_apply" -> t20,
    "t19_effective_tokens" -> t19,
    "t18_novelty"        -> t18,
    "t17_source_overlap" -> t17,
    "t16_vocab_coverage" -> t16,
    "t15_tfidf"          -> t15,
    "t14_seq_pack"       -> t14,
    "t13_mixture_sample" -> t13,
    "t1_lang_id"      -> t1,
    "t2_quality"      -> t2,
    "t3_tokens"       -> t3,
    "t4_fingerprint"  -> t4,
    "t5_winnowing"    -> t5,
    "t6_stratified_sample" -> t6,
    "t7_norm_dedup"   -> t7,
    "t8_collocations" -> t8,
    "t9_pii_redact"   -> t9,
    "t10_bigram_lm"   -> t10,
    "t11_decontam"    -> t11,
    "t12_mix_weights" -> t12,
    "t25_ppl_buckets" -> t25)

  override def oracle: Map[String, String] = Map(
    "t31_padding_sweep" -> t31Sql,
    "t30_weighted_sample" -> t30Sql,
    "t29_mix_schedule" -> t29Sql,
    "t28_mix_kl" -> t28Sql,
    "t24_boilerplate"    -> t24Sql,
    "t23_token_budget"   -> t23Sql,
    "t22_chunking"       -> t22Sql,
    "t21_bm25"           -> t21Sql,
    "t20_decontam_apply" -> t20Sql,
    "t19_effective_tokens" -> t19Sql,
    "t18_novelty"        -> t18Sql,
    "t17_source_overlap" -> t17Sql,
    "t16_vocab_coverage" -> t16Sql,
    "t15_tfidf"          -> t15Sql,
    "t14_seq_pack"       -> t14Sql,
    "t13_mixture_sample" -> t13Sql,
    "t1_lang_id"      -> t1Sql,
    "t2_quality"      -> t2Sql,
    "t3_tokens"       -> t3Sql,
    "t4_fingerprint"  -> t4Sql,
    "t5_winnowing"    -> t5Sql,
    "t6_stratified_sample" -> t6Sql,
    "t7_norm_dedup"   -> t7Sql,
    "t8_collocations" -> t8Sql,
    "t9_pii_redact"   -> t9Sql,
    "t10_bigram_lm"   -> t10Sql,
    "t11_decontam"    -> t11Sql,
    "t12_mix_weights" -> t12Sql,
    "t25_ppl_buckets" -> t25Sql,
    "t26_vocab_growth" -> t26Sql,
    "t27_systematic_sample" -> t27Sql)
}
