package graft.queries

import graft.{QueryPack, Tables}
import graft.QueryPack.fround
import graft.etl.Multimodal
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal binary-column plumbing as driver-checkable queries: the
  * `documents` table adapted to a media table (UTF-8 payload standing
  * in for image bytes — see [[graft.etl.Multimodal]]), then metadata
  * extraction and frame sampling as pure byte-level column ops that
  * DuckDB can mirror on BLOBs.
  */
object MediaQueries extends QueryPack {

  private def media(s: SparkSession, dir: String): DataFrame =
    Multimodal.mediaFromDocuments(Tables(s, dir, "documents"))

  /** m1 — media metadata rollup: per kind, payload counts/sizes and
    * the distinct-checksum profile (the "did we ingest duplicate
    * blobs" scan every media pipeline runs first). */
  private def m1(s: SparkSession, dir: String): DataFrame = {
    media(s, dir)
      .groupBy(col("kind"))
      .agg(
        count(lit(1)).as("n_media"),
        sum(col("meta.n_bytes")).as("total_bytes"),
        min(col("meta.n_bytes")).as("min_bytes"),
        max(col("meta.n_bytes")).as("max_bytes"),
        countDistinct(md5(hex(col("bytes")))).as("n_distinct_payloads"))
      .orderBy(col("kind"))
  }

  private val m1Sql =
    """SELECT 'img/' || source AS kind, COUNT(*) AS n_media,
      |  CAST(SUM(octet_length(encode(text))) AS BIGINT) AS total_bytes,
      |  MIN(octet_length(encode(text))) AS min_bytes,
      |  MAX(octet_length(encode(text))) AS max_bytes,
      |  COUNT(DISTINCT md5(hex(encode(text)))) AS n_distinct_payloads
      |FROM documents
      |GROUP BY 'img/' || source
      |ORDER BY kind""".stripMargin

  /** m2 — frame sampling + truncating resize: 4 strided 16-byte
    * frames per payload, fingerprint each frame, plus the resized
    * payload's checksum — all byte-slice column expressions. */
  private def m2(s: SparkSession, dir: String): DataFrame = {
    media(s, dir)
      .withColumn("frames", Multimodal.frameSample(col("bytes"), 4, 16))
      .select(
        col("media_id"),
        col("meta.n_bytes").as("n_bytes"),
        // hash the hex form: DuckDB's md5 is string-only, and hex() is
        // identical (uppercase) in both engines
        md5(hex(Multimodal.resizeStub(col("bytes"), 64))).as("resized_md5"),
        expr("transform(frames, f -> md5(hex(f)))").as("frame_md5s"))
      .select(col("media_id"), col("n_bytes"), col("resized_md5"),
        concat_ws("|", col("frame_md5s")).as("frame_sig"))
      .orderBy(col("media_id"))
  }

  private val m2Sql =
    """WITH m AS (
      |  SELECT doc_id AS media_id, hex(encode(text)) AS hx,
      |    octet_length(encode(text)) AS n_bytes
      |  FROM documents),
      |f AS (
      |  SELECT media_id, n_bytes,
      |    md5(substring(hx, 1, 128)) AS resized_md5,
      |    list_transform(range(0, 4), i -> md5(substring(hx,
      |      (i * greatest((n_bytes - 16) // 3, 1)) * 2 + 1, 32))) AS frame_md5s
      |  FROM m)
      |SELECT media_id, n_bytes, resized_md5,
      |  array_to_string(frame_md5s, '|') AS frame_sig
      |FROM f
      |ORDER BY media_id""".stripMargin

  /** m3 — perceptual near-dup candidates: payloads sharing ≥1 sampled
    * frame AVERAGE-HASH, ranked by how many they share — the d2
    * inverted-index pattern applied to binary media. The fingerprint
    * is a real perceptual hash now, not an exact md5: per 16-byte
    * frame, bit i is set iff byte i is above the frame mean — the
    * codec-free form of the classic aHash (mean-threshold bit grid),
    * so frames with the same brightness SHAPE collide even when bytes
    * differ. All-integer math (`16·bᵢ > Σb` instead of a float mean)
    * keeps both engines bit-exact. The hash is the native codegen
    * kernel [[graft.functions.AHash]] — one tight loop over the raw
    * frame bytes (the former hex-parse lambda pipeline evaluated ~50
    * interpreted expression nodes per frame; equivalence pinned in
    * FrameHashSpec). Hot-hash keys (flat/black frames — a 16-bit hash space has
    * genuine boilerplate buckets) get the d2 frequency cap: hashes in
    * more than maxDf=16 payloads leave candidate generation via a
    * broadcast anti-join, bounding the self-join at Σ min(df, 16)²
    * (measured: uncapped the pair set is ~1.1 M rows at sf0.1 and
    * quadratic; capped it is ~15 k and linear). */
  private def m3(s: SparkSession, dir: String): DataFrame =
    PairArtifacts(s, dir).orderBy(col("id1"), col("id2"))

  /** The m3/m4 shared perceptual-pair mine (the SpanArtifacts
    * lifecycle applied to media): the aHash inverted index + capped
    * self-join is the whole cost of both the pair REPORT (m3) and
    * the cluster step (m4's CC input) — computed once per corpus
    * snapshot, read by both. */
  private object PairArtifacts {
    private val reg = new graft.ArtifactRegistry[DataFrame]()

    def apply(s: SparkSession, dir: String): DataFrame =
      reg(s, dir) { b =>
        val f = media(s, dir)
          .withColumn("frames", Multimodal.frameSample(col("bytes"), 4, 16))
          .select(col("media_id"), explode(col("frames")).as("fr"))
          .select(col("media_id"),
            call_function("graft_ahash", col("fr")).as("ahash"))
          .distinct()
        val hot = f.groupBy(col("ahash")).agg(count(lit(1)).as("__df"))
          .filter(col("__df") > 16).select("ahash")
        val capped = f.join(broadcast(hot), Seq("ahash"), "left_anti")
        b.persist(capped.as("a").hint("shuffle_hash")
          .join(capped.as("b").hint("shuffle_hash"),
            col("a.ahash") === col("b.ahash") &&
              col("a.media_id") < col("b.media_id"))
          .groupBy(col("a.media_id").as("id1"), col("b.media_id").as("id2"))
          .agg(count(lit(1)).as("shared_frames")))
      }
  }

  private val m3Sql =
    """WITH m AS (SELECT doc_id AS media_id, hex(encode(text)) AS hx,
      |           octet_length(encode(text)) AS n_bytes FROM documents),
      |fr AS (
      |  SELECT media_id,
      |    substring(hx, (i * greatest((n_bytes - 16)//3, 1)) * 2 + 1, 32) AS fhex
      |  FROM m, (SELECT unnest([0,1,2,3]) AS i)),
      |fb AS (
      |  SELECT media_id,
      |    list_transform(range(0, 16), j ->
      |      16 * (strpos('0123456789ABCDEF', substring(fhex, 2*j + 1, 1)) - 1)
      |        + (strpos('0123456789ABCDEF', substring(fhex, 2*j + 2, 1)) - 1)) AS bs
      |  FROM fr),
      |f AS (
      |  SELECT DISTINCT media_id,
      |    CAST(list_sum(list_transform(range(0, 16), j ->
      |      CASE WHEN 16 * bs[j + 1] > list_sum(bs) THEN (1 << j) ELSE 0 END))
      |      AS BIGINT) AS ahash
      |  FROM fb),
      |capped AS (
      |  SELECT f.media_id, f.ahash FROM f
      |  JOIN (SELECT ahash FROM f GROUP BY ahash HAVING COUNT(*) <= 16) k
      |    USING (ahash)),
      |pairs AS (
      |  SELECT a.media_id AS id1, b.media_id AS id2, COUNT(*) AS shared_frames
      |  FROM capped a JOIN capped b ON a.ahash = b.ahash AND a.media_id < b.media_id
      |  GROUP BY a.media_id, b.media_id)
      |SELECT id1, id2, CAST(shared_frames AS BIGINT) AS shared_frames
      |FROM pairs
      |ORDER BY id1, id2""".stripMargin

  /** m4 — media DUP CLUSTERS: connected components over the m3
    * perceptual-pair graph (the d6 step applied to binary media) —
    * pairs become deletion decisions: each payload labels itself
    * with the min media id reachable through shared-frame edges,
    * `keep` marks the canonical survivor. Same
    * [[graft.operators.ConnectedComponents]] pointer-jumping operator
    * (O(log diameter) rounds, lineage cut per round); the oracle
    * walks the graph with the recursive reachability CTE. */
  private def m4(s: SparkSession, dir: String): DataFrame = {
    val edges = PairArtifacts(s, dir).select(col("id1"), col("id2"))
    graft.operators.ConnectedComponents
      .run(edges, "id1", "id2", media(s, dir), "media_id")
      .select(col("id").as("media_id"), col("cluster"),
        (col("cluster") === col("id")).as("keep"))
      .orderBy(col("media_id"))
  }

  private val m4Sql =
    s"""WITH RECURSIVE pairs AS (SELECT id1, id2 FROM ($m3Sql)),
      |sym AS (SELECT id1 AS s, id2 AS t FROM pairs
      |        UNION ALL SELECT id2, id1 FROM pairs),
      |reach(id, r) AS (
      |  SELECT doc_id, doc_id FROM documents
      |  UNION
      |  SELECT reach.id, sym.t FROM reach JOIN sym ON reach.r = sym.s)
      |SELECT id AS media_id, MIN(r) AS cluster, MIN(r) = id AS keep
      |FROM reach GROUP BY id
      |ORDER BY media_id""".stripMargin

  /** m5 — storage planning profile: per-kind payload-size quantiles
    * plus the projected bytes-per-million-items figure a capacity
    * plan reads off (p50·10⁶, mean·10⁶). Exact percentiles on
    * integer byte lengths (the q12 convention) — at 100 TB swap in
    * percentile_approx with a q22-style rank audit, same shape
    * (one partial+final agg per kind; nothing but the rollup
    * shuffles). */
  private def m5(s: SparkSession, dir: String): DataFrame = {
    media(s, dir)
      .groupBy(col("kind"))
      .agg(
        count(lit(1)).as("n_media"),
        fround(expr("percentile(meta.n_bytes, 0.5)"), 6).as("p50_bytes"),
        fround(expr("percentile(meta.n_bytes, 0.95)"), 6).as("p95_bytes"),
        sum(col("meta.n_bytes")).as("total_bytes"))
      .withColumn("mb_per_million",
        fround(col("total_bytes").cast("double") / col("n_media") * 1000000 / 1048576, 4))
      .orderBy(col("kind"))
  }

  private val m5Sql =
    """SELECT 'img/' || source AS kind, COUNT(*) AS n_media,
      |  FLOOR(quantile_cont(octet_length(encode(text)), 0.5) * 1e6 + 0.5) / 1e6 AS p50_bytes,
      |  FLOOR(quantile_cont(octet_length(encode(text)), 0.95) * 1e6 + 0.5) / 1e6 AS p95_bytes,
      |  CAST(SUM(octet_length(encode(text))) AS BIGINT) AS total_bytes,
      |  FLOOR(CAST(SUM(octet_length(encode(text))) AS DOUBLE) / COUNT(*)
      |        * 1000000 / 1048576 * 1e4 + 0.5) / 1e4 AS mb_per_million
      |FROM documents
      |GROUP BY 'img/' || source
      |ORDER BY kind""".stripMargin

  /** m6 — content-addressable-storage dedup estimate: each payload
    * splits into fixed 256-byte blocks, blocks dedupe by fingerprint
    * (the backup/blob-store chunking model — fixed blocks here;
    * content-defined boundaries would reuse t4's rolling hash), and
    * per kind the query reports block counts, duplicate blocks and
    * the bytes a dedup store would save. Identical blocks have
    * identical lengths, so savings = Σ (count−1)·len per distinct
    * fingerprint — exact, not modeled.
    *
    * Scale: the explode is map-side; the only shuffle is the hash
    * agg on (kind, fingerprint) — uniformly distributed keys, no
    * skew, partial combine collapses same-payload repeats. This is
    * THE shape of block-level dedup at 100 TB: fingerprint, hash-
    * partition, count. */
  private def m6(s: SparkSession, dir: String): DataFrame = {
    val blocks = media(s, dir)
      .filter(length(col("bytes")) > 0)
      .select(col("kind"), col("bytes"),
        posexplode(sequence(lit(0),
          ((length(col("bytes")) + 255) / 256).cast("int") - 1))
          .as(Seq("bi", "i")))
      .select(col("kind"),
        col("bytes").substr(col("i") * 256 + 1, lit(256)).as("block"))
      .select(col("kind"), md5(hex(col("block"))).as("fp"),
        length(col("block")).cast("long").as("len"))
    blocks.groupBy(col("kind"), col("fp"))
      .agg(count(lit(1)).as("cnt"), max(col("len")).as("len"))
      .groupBy(col("kind"))
      .agg(sum(col("cnt")).as("total_blocks"),
        count(lit(1)).as("distinct_blocks"),
        sum(col("cnt") - 1).as("dup_blocks"),
        sum((col("cnt") - 1) * col("len")).as("bytes_saved"))
      .withColumn("dedup_ratio",
        fround(col("dup_blocks").cast("double") /
          col("total_blocks").cast("double"), 6))
      .orderBy(col("kind"))
  }

  // DuckDB substring() is VARCHAR-only: slice the hex form at doubled
  // offsets instead — hex is per-byte, so hex(bytes[a..b]) ==
  // hex(bytes)[2a..2b] and the fingerprints match Spark's
  // md5(hex(binary-slice)) exactly.
  private val m6Sql =
    """WITH b AS (
      |  SELECT 'img/' || source AS kind,
      |    md5(substring(hex(encode(text)), i * 512 + 1, 512)) AS fp,
      |    CAST(length(substring(hex(encode(text)), i * 512 + 1, 512)) // 2 AS BIGINT) AS len
      |  FROM documents,
      |    LATERAL unnest(range((octet_length(encode(text)) + 255) // 256)) AS u(i)
      |  WHERE octet_length(encode(text)) > 0),
      |g AS (SELECT kind, fp, COUNT(*) AS cnt, MAX(len) AS len
      |  FROM b GROUP BY 1, 2)
      |SELECT kind, CAST(SUM(cnt) AS BIGINT) AS total_blocks,
      |  COUNT(*) AS distinct_blocks,
      |  CAST(SUM(cnt - 1) AS BIGINT) AS dup_blocks,
      |  CAST(SUM((cnt - 1) * len) AS BIGINT) AS bytes_saved,
      |  FLOOR(CAST(SUM(cnt - 1) AS DOUBLE) / CAST(SUM(cnt) AS DOUBLE) * 1e6 + 0.5) / 1e6 AS dedup_ratio
      |FROM g GROUP BY kind ORDER BY kind""".stripMargin

  /** m7 — MULTIMODAL TRAINING MANIFEST: the per-source admission
    * accounting a text+image+embedding pipeline closes each snapshot
    * with — every doc passes four modality gates and only the
    * conjunction trains:
    *
    *  - `lang_ok`: declared language is the target (en);
    *  - `media_ok`: payload size inside the decode-budget band
    *    [100, 520] bytes (stand-in for resolution/duration bounds);
    *  - `quality_ok`: t2's quality score at or above the CORPUS MEAN
    *    — compared in integers (micro = ⌊score·1e6 + 0.5⌋, gate
    *    micro·n ≥ Σmicro) so no float sum ever crosses engines;
    *  - `modal_ok`: the doc's embedding cluster label agrees with its
    *    source's majority label — the cross-modal consistency filter
    *    (the CLIP-score-agreement shape: text provenance and
    *    embedding geometry must tell the same story).
    *
    * Scale: all joins are doc_id-keyed (co-partitioned fact joins);
    * the corpus quality stat and the per-source majority-label frame
    * are metadata-scale broadcasts (majority = one window over
    * #source × #label count rows); the rollup is one partial+final
    * agg. Reuses [[TextQueries.docScores]] so "quality" stays ONE
    * definition across the library (d17/c1's convention). */
  private def m7(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = Tables(s, dir, "documents")
      .select(col("doc_id"), col("source"), col("lang"),
        expr("size(split(text, ' '))").cast("long").as("n_tokens"))
    val score = TextQueries.docScores(s, dir)
      .select(col("doc_id"),
        floor(col("score") * 1e6 + 0.5).cast("long").as("micro"))
    val stats = score.agg(sum(col("micro")).as("sum_micro"),
      count(lit(1)).as("n_tot"))
    val bytes = media(s, dir)
      .select(col("media_id").as("doc_id"),
        col("meta.n_bytes").as("n_bytes"))
    val lab = Tables(s, dir, "embeddings")
      .select(col("vec_id").as("doc_id"), col("label"))
    val wMaj = Window.partitionBy(col("source"))
      .orderBy(col("cnt").desc, col("label"))
    val maj = d.join(lab, Seq("doc_id"))
      .groupBy(col("source"), col("label")).agg(count(lit(1)).as("cnt"))
      .withColumn("rk", row_number().over(wMaj)).filter(col("rk") === 1)
      .select(col("source"), col("label").as("maj_label"))
    d.join(score, Seq("doc_id")).join(bytes, Seq("doc_id"))
      .join(lab, Seq("doc_id"))
      .join(broadcast(maj), Seq("source"))
      .crossJoin(broadcast(stats))
      .withColumn("lang_ok", col("lang") === "en")
      .withColumn("media_ok", col("n_bytes").between(100, 520))
      .withColumn("quality_ok",
        col("micro") * col("n_tot") >= col("sum_micro"))
      .withColumn("modal_ok", col("label") === col("maj_label"))
      .withColumn("trainable", col("lang_ok") && col("media_ok") &&
        col("quality_ok") && col("modal_ok"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("lang_ok"), 1L).otherwise(0L)).as("n_lang_ok"),
        sum(when(col("media_ok"), 1L).otherwise(0L)).as("n_media_ok"),
        sum(when(col("quality_ok"), 1L).otherwise(0L)).as("n_quality_ok"),
        sum(when(col("modal_ok"), 1L).otherwise(0L)).as("n_modal_ok"),
        sum(when(col("trainable"), 1L).otherwise(0L)).as("n_trainable"),
        sum(when(col("trainable"), col("n_tokens")).otherwise(0L))
          .as("trainable_tokens"))
      .orderBy(col("source"))
  }

  private val m7Sql =
    s"""WITH sc AS (${TextQueries.docScoresSql}),
      |micro AS (
      |  SELECT doc_id, CAST(FLOOR(score * 1e6 + 0.5) AS BIGINT) AS micro
      |  FROM sc),
      |stats AS (
      |  SELECT CAST(SUM(micro) AS BIGINT) AS sum_micro,
      |    COUNT(*) AS n_tot FROM micro),
      |d AS (
      |  SELECT doc_id, source, lang,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
      |    CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
      |  FROM documents),
      |lab AS (SELECT vec_id AS doc_id, label FROM embeddings),
      |maj AS (
      |  SELECT source, label AS maj_label FROM (
      |    SELECT d.source, lab.label, COUNT(*) AS cnt,
      |      ROW_NUMBER() OVER (PARTITION BY d.source
      |        ORDER BY COUNT(*) DESC, lab.label) AS rk
      |    FROM d JOIN lab USING (doc_id) GROUP BY d.source, lab.label) t
      |  WHERE rk = 1),
      |g AS (
      |  SELECT d.source, d.n_tokens,
      |    (d.lang = 'en') AS lang_ok,
      |    (d.n_bytes BETWEEN 100 AND 520) AS media_ok,
      |    (micro.micro * stats.n_tot >= stats.sum_micro) AS quality_ok,
      |    (lab.label = maj.maj_label) AS modal_ok
      |  FROM d JOIN micro USING (doc_id) JOIN lab USING (doc_id)
      |  JOIN maj ON maj.source = d.source, stats)
      |SELECT source, COUNT(*) AS n_docs,
      |  CAST(SUM(CASE WHEN lang_ok THEN 1 ELSE 0 END) AS BIGINT) AS n_lang_ok,
      |  CAST(SUM(CASE WHEN media_ok THEN 1 ELSE 0 END) AS BIGINT) AS n_media_ok,
      |  CAST(SUM(CASE WHEN quality_ok THEN 1 ELSE 0 END) AS BIGINT) AS n_quality_ok,
      |  CAST(SUM(CASE WHEN modal_ok THEN 1 ELSE 0 END) AS BIGINT) AS n_modal_ok,
      |  CAST(SUM(CASE WHEN lang_ok AND media_ok AND quality_ok AND modal_ok
      |                THEN 1 ELSE 0 END) AS BIGINT) AS n_trainable,
      |  CAST(SUM(CASE WHEN lang_ok AND media_ok AND quality_ok AND modal_ok
      |                THEN n_tokens ELSE 0 END) AS BIGINT) AS trainable_tokens
      |FROM g GROUP BY source ORDER BY source""".stripMargin

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "m7_train_manifest" -> m7,
    "m6_block_dedup"   -> m6,
    "m5_storage_profile" -> m5,
    "m1_media_profile" -> m1,
    "m2_frame_sample"  -> m2,
    "m3_frame_neardup" -> m3,
    "m4_media_clusters" -> m4)

  override def oracle: Map[String, String] = Map(
    "m7_train_manifest" -> m7Sql,
    "m6_block_dedup"   -> m6Sql,
    "m5_storage_profile" -> m5Sql,
    "m1_media_profile" -> m1Sql,
    "m2_frame_sample"  -> m2Sql,
    "m3_frame_neardup" -> m3Sql,
    "m4_media_clusters" -> m4Sql)
}
