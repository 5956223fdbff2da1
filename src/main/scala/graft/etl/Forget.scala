package graft.etl

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** DELETE-BY-KEY retention (right-to-be-forgotten) — the cascade a
  * training-data pipeline owes every keyed deletion request. Time-
  * based retention (K4 vacuum / [[Maintenance]]) reclaims old rows;
  * a forget request instead names a DOC SET and requires the set AND
  * ITS DERIVATIVES gone: the raw docs, their signature-index rows,
  * and the near-dup cluster labels they participated in.
  *
  * Rows delete by anti-join; labels need RETRACTION — removing a
  * node can split a component (bridge doc) or relabel it (the
  * cluster's min-id rep forgotten), so the label table cannot be
  * repaired row-locally. The q37 retract-IVM identity applies: only
  * components that LOST a member can change, so recomputation is
  * semi-join-pruned to exactly those components' surviving members
  * and their surviving pair evidence — forget-batch-sized work, never
  * an index-sized CC rerun. Post-forget artifacts are written as NEW
  * durable tables (the snapshot lifecycle: consumers switch, then the
  * pre-forget snapshot retires through [[Maintenance.run]]'s
  * artifact-drop hook), never mutated in place.
  *
  * STREAMING edge: the admission loop's seeded LSH probe holds
  * signatures of everything seen — forgetting must also UN-SEE, or
  * near-dups of a deleted doc stay suppressed by its ghost. The
  * contract is reseed-on-switch: when consumers move to the
  * post-forget snapshot, the probe restarts seeded from the
  * post-forget signature universe (ForgetSpec's un-see gate drives
  * both sides of the redelivery).
  */
object Forget {

  /** Post-deletion cluster labels via component-pruned retraction.
    *
    * @param labels the CURRENT label view `(doc_id, cluster)` —
    *               cluster = min reachable doc id (the CC convention)
    * @param edges  the pair evidence `(d1, d2)` over the label view's
    *               universe (the cached signature-index pairs; edges
    *               touching forgotten docs are dropped here)
    * @param forget the keyed doc set to delete, `(doc_id)`
    * @return `(doc_id, cluster)` over universe ∖ forget, equal to a
    *         full CC rebuild on the induced surviving subgraph:
    *         components with no forgotten member keep their rows
    *         VERBATIM (membership and min id unchanged), affected
    *         components re-run CC on their surviving members only.
    */
  def retractLabels(labels: DataFrame, edges: DataFrame,
      forget: DataFrame): DataFrame = {
    val f = forget.select(col("doc_id"))
    val affected = labels.join(f, Seq("doc_id"), "left_semi")
      .select(col("cluster")).distinct()
    val untouched = labels
      .join(broadcast(affected), Seq("cluster"), "left_anti")
      .select(col("doc_id"), col("cluster"))
    val members = labels.join(broadcast(affected), Seq("cluster"))
      .join(f, Seq("doc_id"), "left_anti")
      .select(col("doc_id"))
    // the original CC already proved no edge crosses a component
    // boundary, so restricting both endpoints to affected-component
    // survivors is exactly the induced subgraph that can change
    val subEdges = edges
      .join(members.withColumnRenamed("doc_id", "d1"), Seq("d1"), "left_semi")
      .join(members.withColumnRenamed("doc_id", "d2"), Seq("d2"), "left_semi")
      .select(col("d1"), col("d2"))
    graft.operators.ConnectedComponents
      .run(subEdges, "d1", "d2", members, "doc_id")
      .select(col("id").as("doc_id"), col("cluster"))
      .unionByName(untouched)
  }

  /** Post-deletion BIGRAM-LM scores via model retraction — the forget
    * cascade reaching an AGGREGATE artifact (round 17): the corpus
    * bigram model (`cab(a,b)`, `ca(a)`) was trained over the forgotten
    * docs too, so their influence persists in every SURVIVING doc's
    * score until the counts retract. Counts are a group homomorphism,
    * so the retracted model is exact subtraction (`cab' = cab − the
    * forgotten docs' own bigram counts` — batch-sized deltas off the
    * CACHED count table, never a corpus recount), and the q37
    * retract-IVM pruning applies to the RESCORE: a surviving doc's
    * fixed-point sum changes only if one of its bigrams' `cab` or its
    * context's `ca` moved, and every such key starts with a context
    * word `a` the forgotten docs used — docs with no bigram on a
    * changed context carry their `(n_bigrams, sumpf)` rows over
    * VERBATIM; only docs sharing a changed context rescore (against
    * the retracted model, bit-identical arithmetic via
    * [[graft.queries.TextArtifacts.lmScore]]).
    *
    * @param bi    the pre-forget positional bigram frame
    *              `(doc_id, pos, a, b)` (full universe)
    * @param cab   the pre-forget bigram count table `(a, b, cab)` —
    *              the cached [[graft.queries.TextArtifacts
    *              .bigramCounts]] artifact
    * @param lmPre the pre-forget per-doc scores
    *              `(doc_id, n_bigrams, sumpf)`
    * @param forget the keyed doc set `(doc_id)`
    * @return `(doc_id, n_bigrams, sumpf)` over universe ∖ forget,
    *         equal to retraining the model from scratch on the
    *         surviving corpus (ForgetSpec hash-gates the identity;
    *         `n_bigrams` is invariant for survivors by construction —
    *         a doc's own bigrams don't change when OTHERS are deleted)
    */
  def retractBigramLm(bi: DataFrame, cab: DataFrame, lmPre: DataFrame,
      forget: DataFrame): DataFrame = {
    val f = forget.select(col("doc_id"))
    val biF = bi.join(broadcast(f), Seq("doc_id"), "left_semi")
    // the count deltas feed BOTH the model subtraction and the
    // changed-context set — persist (vocabulary-delta-sized) or the
    // forgotten docs' bigram explode runs once per consumer
    val dCab = biF.groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("__dcab"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    dCab.count()
    // retracted model: exact integer subtraction off the cached table;
    // keys whose count hits zero leave the model entirely
    val cabPost = cab.join(dCab, Seq("a", "b"), "left")
      .select(col("a"), col("b"),
        (col("cab") - coalesce(col("__dcab"), lit(0L))).as("cab"))
      .filter(col("cab") > 0)
    val caPost = graft.queries.TextArtifacts.contextCounts(cabPost)
    // changed context words: every changed (a,b) or a key starts here.
    // Joined UNHINTED (like the affected-id joins below): for a small
    // forget batch the planner broadcasts; for a batch whose context
    // vocabulary is itself huge it must be free to shuffle — a forced
    // broadcast of an unbounded set is the never-broadcast-an-index
    // rule violated
    val changedA = dCab.select(col("a")).distinct()
    val biSurv = bi.join(broadcast(f), Seq("doc_id"), "left_anti")
    // read twice (rescore leg + verbatim-carry anti-join): id-scale
    val affected = biSurv
      .join(changedA, Seq("a"), "left_semi")
      .select(col("doc_id")).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    affected.count()
    val rescored = graft.queries.TextArtifacts.lmScore(
      biSurv.join(affected, Seq("doc_id"), "left_semi"), cabPost, caPost)
    lmPre
      .join(broadcast(f), Seq("doc_id"), "left_anti")
      .join(affected, Seq("doc_id"), "left_anti")
      .unionByName(rescored)
  }

  /** Post-deletion REPEATED-SPAN mine via pair-pruned retraction — the
    * forget cascade reaching the d9/d11 span artifact (round 17).
    * Deleting docs changes the mine two ways: (a) spans with a
    * forgotten endpoint die (row-local anti-join), and (b) a gram
    * whose document frequency sat just above the boilerplate cap can
    * drop BELOW it once its forgotten holders leave — the mine then
    * owes NEW candidate matches for that gram's surviving holders
    * (the cap is monotone: deletions only UNCAP grams, never cap
    * them, so untouched pairs' match sets — and hence their diagonal
    * islands — are provably unchanged and carry over verbatim).
    *
    * The retraction prices by the FORGET BATCH, not the corpus: the
    * forgotten docs' own grams bound the candidate-gram set, its df
    * audit and the newly-uncapped set `U` are narrow filtered passes,
    * the touched pairs are survivors sharing a `U` gram (each has
    * df' ≤ maxDf, so ≤ maxDf²/2 pairs per gram), and only touched
    * pairs re-run the island fold — over their own full capped'
    * match set, so merged/extended islands come out right. The full
    * self-join + corpus-wide window of a rebuild never runs.
    *
    * @param docs     pre-forget universe `(idCol, wordsCol)` already
    *                 filtered to mineable docs (≥ n words)
    * @param spansPre the pre-forget mine (d1, d2, start1, start2,
    *                 span_words)
    * @param keep     caches and materializes the result (d21 passes its
    *                 registry build's `persist`, which then owns it);
    *                 the retraction's working caches are released once
    *                 it returns
    * @return the post-forget mine, equal to re-mining the surviving
    *         corpus from scratch (ForgetSpec gates the identity,
    *         including a constructed uncapping case)
    */
  def retractSpans(docs: DataFrame, idCol: String, wordsCol: String,
      spansPre: DataFrame, forget: DataFrame,
      n: Int, maxDf: Int, minSpanWords: Int)(
      keep: DataFrame => DataFrame): DataFrame = {
    val f = forget.select(col("doc_id").as("__fid"))
    def gramsOf(d: DataFrame): DataFrame = d
      .select(col(idCol).as("__id"),
        posexplode(call_function("graft_shingle_seq", col(wordsCol), lit(n)))
          .as(Seq("__pos", "__g")))
    val isF = (d: DataFrame, how: String) =>
      d.join(broadcast(f), col(idCol) === col("__fid"), how)
    val surv = isF(docs, "left_anti")
    // candidate grams: only grams the forgotten docs held can change
    // df. Joined UNHINTED: gF scales with the forget batch's token
    // mass, not metadata — the planner broadcasts small batches and
    // shuffles huge ones (forcing broadcast here is the
    // never-broadcast-an-index rule violated)
    val gF = gramsOf(isF(docs, "left_semi").drop("__fid"))
      .select(col("__g")).distinct()
    // df audit for candidates (one narrow filtered pass): pre vs post.
    // Persisted: the uncapped audit and the touched-pair leg both read
    // it — uncached, each would re-run the corpus gram pass (the
    // unfused-diamond rule; candidate-gram-bounded rows)
    val pgG = gramsOf(docs).join(gF, Seq("__g"), "left_semi")
      .join(broadcast(f), col("__id") === col("__fid"), "left")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    pgG.count()
    val uncapped = pgG.groupBy(col("__g")).agg(
      countDistinct(col("__id")).as("__df"),
      countDistinct(when(col("__fid").isNull, col("__id"))).as("__dfp"))
      .filter(col("__df") > maxDf && col("__dfp") <= maxDf)
      .select(col("__g"))
    // touched pairs: surviving docs sharing a newly-uncapped gram
    val pgU = pgG.filter(col("__fid").isNull)
      .join(broadcast(uncapped), Seq("__g"), "left_semi")
      .select(col("__id"), col("__g"))
    val touched = pgU.as("a")
      .join(pgU.as("b"),
        col("a.__g") === col("b.__g") && col("a.__id") < col("b.__id"))
      .select(col("a.__id").as("d1"), col("b.__id").as("d2"))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    touched.count() // three consumers below (docs, matches, carry anti)
    val touchedDocs = touched.select(col("d1").as("__id"))
      .unionByName(touched.select(col("d2").as("__id"))).distinct()
    // touched docs' grams under the POST-forget cap: df' ≤ maxDf.
    // For grams outside the candidate set df' = df (deletions touch
    // only the forgotten docs' grams), so one survivor-side pass over
    // the touched docs' gram set prices the whole cap audit.
    val pgD = gramsOf(surv.join(touchedDocs,
      col(idCol) === touchedDocs("__id"), "left_semi"))
    // gD scales with the touched docs' token mass — unhinted join
    // (hotPost below IS provably bounded: ≤ |corpus grams|/maxDf)
    val gD = pgD.select(col("__g")).distinct()
    val hotPost = gramsOf(surv)
      .join(gD, Seq("__g"), "left_semi")
      .groupBy(col("__g")).agg(countDistinct(col("__id")).as("__dfp"))
      .filter(col("__dfp") > maxDf).select(col("__g"))
    val cappedD = pgD.join(broadcast(hotPost), Seq("__g"), "left_anti")
      // both sides of the candidate self-join read this frame
      // (touched-docs-scale) — cache it or the gram pass runs twice
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    cappedD.count()
    val matches = cappedD.as("a").hint("shuffle_hash")
      .join(cappedD.as("b").hint("shuffle_hash"),
        col("a.__g") === col("b.__g") && col("a.__id") < col("b.__id"))
      .select(col("a.__id").as("d1"), col("b.__id").as("d2"),
        col("a.__pos").as("p1"), col("b.__pos").as("p2"))
      .join(broadcast(touched), Seq("d1", "d2"), "left_semi")
    val recomputed = graft.operators.TextDedup
      .spansFromMatches(matches, n, minSpanWords)
    val carried = spansPre
      .join(broadcast(f), col("d1") === col("__fid"), "left_anti")
      .join(broadcast(f), col("d2") === col("__fid"), "left_anti")
      .join(broadcast(touched), Seq("d1", "d2"), "left_anti")
    // materialize the (span-rows-sized) result, then RELEASE the
    // retraction's working caches — pgG is corpus-gram-scale and must
    // not outlive the call
    try keep(carried.unionByName(recomputed))
    finally Seq(pgG, touched, cappedD).foreach(_.unpersist(blocking = false))
  }
}
