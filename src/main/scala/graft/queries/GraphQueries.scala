package graft.queries

import graft.{QueryPack, Tables}
import graft.QueryPack.fround
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Iterative graph analytics over the order graph — the ranking
  * complement to d6's connected components. The reference's data
  * model has no explicit graph table, so the graph is derived the way
  * a pipeline would derive it: customers and suppliers are nodes,
  * an (undirected) edge connects a customer to every supplier that
  * fulfilled one of its orders (orders ⋈ lineitem, distinct pairs).
  *
  * Determinism contract (the ordered-fold convention): per-node
  * neighbor contributions are folded in source-node order on both
  * engines — a full-frame ordered window sum (`sum(c) OVER
  * (PARTITION BY dst ORDER BY src ROWS UNBOUNDED PRECEDING AND
  * FOLLOWING)` folds each partition's rows sequentially in src
  * order) ≡ DuckDB `list_sum(list(c ORDER BY src))`. Damping
  * constants are cast to DOUBLE explicitly (DuckDB parses bare
  * `0.85` as DECIMAL), and every derived probability is the same
  * sequence of IEEE ops on both sides — bit-identical, not merely
  * close. (The previous encoding, a collect_list + array_sort + HOF
  * `aggregate`, computed the same fold through a per-dst array
  * buffer with an interpreted per-element lambda — the window form
  * is buffer-free and ~2x faster at sf1.)
  *
  * Scale (100 TB): ranks are NODE-count rows while edges are
  * EDGE-count rows, so up to [[maxBroadcastNodes]] nodes each
  * PageRank round broadcasts the rank frame into the dst-bucketed,
  * (dst, src)-sorted edge table — the round plans with ZERO
  * exchanges and ZERO sorts (the fold order IS the file order; see
  * GraphArtifacts). Past that bound (billion-node graphs) the round
  * falls back to the r6 shape: one keyed join (edges ⋈ ranks on
  * src — shuffle-hash, both sides partitioned by src) plus one
  * partial+final agg keyed by dst. Lineage is cut per round
  * (the ConnectedComponents lesson: without it the plan doubles per
  * round and Catalyst analysis becomes the bottleneck); set
  * `SPARK_GRAFT_CHECKPOINT_DIR` (or
  * [[graft.operators.Lineage.checkpointDirOverride]]) to
  * make the cuts RELIABLE `df.checkpoint()`s that survive executor
  * loss — `localCheckpoint` blocks die with their executor. The
  * sorted-fold began as the oracle-parity artifact but MEASURES
  * FASTER than the plain partial+final `sum` it was assumed to
  * trade against (sf10: g1 9.3 s ordered vs 21.1 s plain,
  * same-window): over the dst-bucketed (dst, src)-sorted scan the
  * window STREAMS sorted runs, while the hash aggregate builds
  * node-count hash maps over edge-count rows.
  */
object GraphQueries extends QueryPack {

  /** Rank/label frames broadcast into the bucketed edge table up to
    * this many nodes (~24 B/row ⇒ ~200 MB at the default); larger
    * graphs use the shuffle-join round shape instead. Resolved per
    * CALL (not frozen at object init) so the forced-fallback parity
    * test can exercise the shuffle path in-process via
    * [[maxBroadcastNodesOverride]] — without that hook the fallback
    * is dead code under any test corpus and its "both paths are
    * bit-identical" claim would be unverifiable. */
  private def maxBroadcastNodes: Long =
    maxBroadcastNodesOverride.getOrElse(8L * 1000 * 1000)

  /** Test hook: force the broadcast/shuffle round-shape decision
    * (0 ⇒ always the shuffle fallback). */
  @volatile private[graft] var maxBroadcastNodesOverride: Option[Long] = None

  private def cutLineage(df: DataFrame): DataFrame =
    graft.operators.Lineage.cut(df)

  /** Shared graph index artifacts, keyed by (session, dir) — the
    * DocArtifacts/PqArtifacts lifecycle applied to the derived
    * graphs: the bipartite customer↔supplier edge frame (+ degrees)
    * feeds BOTH g1 and g3, and g2's part co-occurrence edges and
    * degree-ordered orientation are its own train-once index. The
    * edge tables are DURABLE bucketed tables written once per corpus
    * snapshot via DurableArtifacts.bucketedTable (build-or-attach,
    * round 13): a fresh session or an eviction-rebuild attaches to
    * the existing tables instead of re-deriving them, and only the
    * cheap per-session aggregates (degrees, node count) recompute
    * off the bucketed scans. */
  private object GraphArtifacts {
    final case class Arts(deg: DataFrame, edgesDeg: DataFrame,
        edgesDst: DataFrame, nNodes: Long,
        partDeg: DataFrame, oriented: DataFrame, orientedDst: DataFrame,
        edgeNv: DataFrame)

    private def table(t: String, dir: String): String =
      s"graft_g_${t}_${graft.ArtifactRegistry.dirTag(dir)}"

    // onRetire drops the durable bucketed tables (DROP TABLE on a
    // managed table removes its warehouse location) through
    // DurableArtifacts.drop, so the drop serializes on the same
    // per-table stripe lock as build-or-attach (a raw DROP could
    // interleave with another session's attach between its
    // tableExists check and the scan) and refcounts sibling sessions.
    private val reg = new graft.ArtifactRegistry[Arts](
      onRetire = (s, dir) => Seq("inc", "bip", "bipdst", "oriented",
        "orienteddst", "edgenv").foreach(t =>
        graft.etl.DurableArtifacts.drop(s, table(t, dir))))

    def apply(s: SparkSession, dir: String): Arts =
      reg(s, dir)(build(s, dir, _))

    private def build(s: SparkSession, dir: String,
        b: graft.ArtifactRegistry.Build): Arts = {
      // Both edge tables are WRITTEN BUCKETED on src (the join/agg key
      // of every round and closure pass) and every derived frame is
      // RE-ROOTED on the bucketed scan. Two scale properties fall out:
      //  (1) no-exchange plans — groupBy(src)/join-on-src read the
      //      bucket layout co-partitioned (PlanAuditSpec locks g2's);
      //  (2) cheap recompute lineage — persisted frames evicted under
      //      storage pressure (measured: a full 140-query soak evicted
      //      partDeg and its recompute re-ran the lineitem self-join,
      //      4.7 s -> 39 s warm g2) now rebuild from a bucketed SCAN,
      //      never from the fact joins; on a cluster the table also
      //      survives job restarts where cache partitioning doesn't.
      val nb = s.conf.get("spark.sql.shuffle.partitions", "32").toInt

      // bipartite customer<->supplier graph (g1/g3)
      // Every table below goes through DurableArtifacts.bucketedTable
      // (build-or-attach, round 13): a FRESH SESSION — or a rebuild
      // after LRU eviction — attaches to the existing tables instead
      // of re-running the fact joins / orientation / packing, and the
      // eviction-rebuild race the ArtifactRegistry scaladoc used to
      // carry (DROP/rewrite under a draining reader) is gone: attach
      // never rewrites. The by-name build arguments keep the
      // expensive upstream frames UNEVALUATED on the attach path.
      val pairs = Tables(s, dir, "orders")
        .join(Tables(s, dir, "lineitem"),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("ck"), col("l_suppkey").as("sk"))
        .distinct()
      val edges = graft.etl.DurableArtifacts.bucketedTable(
        s, table("bip", dir), nb, Seq("src"), Seq("src", "dst"))(
        pairs
          .select((col("ck") * 2).as("src"), (col("sk") * 2 + 1).as("dst"))
          .unionAll(pairs.select((col("sk") * 2 + 1).as("src"),
            (col("ck") * 2).as("dst"))))
      val (deg, nNodes) = b.persistCounted(
        edges.groupBy(col("src")).agg(count(lit(1)).as("deg")))
      val edgesDeg = b.persist(edges.join(deg, "src"))
      // dst-keyed serving copy for the g1/g3 broadcast-rank rounds:
      // bucketed AND sorted on (dst, src) with deg(src) attached, so
      // a round is scan ⋈ broadcast(ranks) → ordered-window fold →
      // agg-by-dst with zero exchanges and zero sorts — the fold
      // order is the FILE order the table was written in. Read
      // straight from the bucketed files (not persisted): an
      // edge-sized cache would fight the query caches for memory,
      // and the scan already carries the partitioning+ordering.
      val edgesDst = graft.etl.DurableArtifacts.bucketedTable(
        s, table("bipdst", dir), nb, Seq("dst"), Seq("dst", "src"))(
        edges.join(deg, "src").select(col("dst"), col("src"), col("deg")))

      // part co-occurrence graph (g2): edges + degree-ordered
      // orientation — lexicographic (deg, id), an explicit
      // comparison, never a packed scalar key (deg·C + id breaks
      // silently once ids reach C at larger corpora).
      // The (order, part) incidence is written ONCE as a durable
      // ok-bucketed (ok, pk)-sorted table; the co-occurrence
      // self-join then reads the SAME bucketed scan on both sides
      // and plans with ZERO edge-side exchanges (the g1/g3/g4
      // bucketed-artifact treatment applied to g2's dominant cost —
      // the only remaining exchange is the unavoidable pair
      // distinct). Recompute lineage for every g2 frame re-roots on
      // this scan, never on the lineitem fact scan.
      val inc = graft.etl.DurableArtifacts.bucketedTable(
        s, table("inc", dir), nb, Seq("ok"), Seq("ok", "pk"))(
        Tables(s, dir, "lineitem")
          .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
          .distinct())
      // the self-join + degree orientation exist only to PRODUCE the
      // oriented table: build them inside the by-name argument (the
      // attach path never pays them) and fold their caches into the
      // durable table immediately after
      val orientTmp = scala.collection.mutable.ListBuffer.empty[DataFrame]
      val orientedScan = graft.etl.DurableArtifacts.bucketedTable(
        s, table("oriented", dir), nb, Seq("src"), Seq("src", "dst")) {
        val pEdges = b.persist(incidenceSelfJoin(inc).distinct())
        orientTmp += pEdges
        val partDeg0 = b.persist(pEdges.select(col("u").as("node"))
          .unionAll(pEdges.select(col("v").as("node")))
          .groupBy(col("node")).agg(count(lit(1)).as("deg")))
        orientTmp += partDeg0
        val withU = pEdges
          .join(partDeg0.select(col("node").as("u"), col("deg").as("du")), "u")
          .join(partDeg0.select(col("node").as("v"), col("deg").as("dv")), "v")
        val uFirst = col("du") < col("dv") ||
          (col("du") === col("dv") && col("u") < col("v"))
        withU.select(
          when(uFirst, col("u")).otherwise(col("v")).as("src"),
          when(uFirst, col("v")).otherwise(col("u")).as("dst"))
      }
      orientTmp.foreach(_.unpersist(blocking = false)) // folded into oriented
      val oriented = b.persist(orientedScan)
      // dst-bucketed serving copy of the oriented edges (the bipdst
      // treatment): g2's closure attaches the dst endpoint's
      // adjacency FIRST off this scan (zero exchange both sides), so
      // the closure's single big exchange carries the nv arrays —
      // Σ_{(u,v)∈E} |N+(v)| = Σ din·dout, measured 41% smaller than
      // the Σ dout² the nu-first order ships (49.2M vs 83.4M array
      // elements at sf0.1; the exchange is g2's dominant cost at
      // sf10, ~30-60 GB of shuffled adjacency payload). Cheap
      // re-read of the src-bucketed table, written once; scan-only
      // (an edge-sized cache would fight the query caches).
      val orientedDst = graft.etl.DurableArtifacts.bucketedTable(
        s, table("orienteddst", dir), nb, Seq("dst"), Seq("dst", "src"))(
        s.table(table("oriented", dir)).select(col("dst"), col("src")))
      // CLOSURE-INPUT serving table: the dst endpoint's packed
      // adjacency attached to every oriented edge, bucketed on SRC —
      // the key the closure joins on. Build cost is exactly one pass
      // of what the query used to pay per run (the zero-exchange
      // nv attach + the one src-keyed exchange of the nv-carrying
      // rows, folded into the bucketed write's repartition); after
      // it, g2's closure plans with ZERO exchanges before the final
      // node rollup. Disk is Σ din·dout packed elements (~1-2 B
      // each — the delta-varint payload), i.e. the closure's
      // information flow materialized once, the same trade the
      // bipdst serving copy makes for g1/g3 rounds. At 100 TB this
      // is the triangle INDEX a serving system maintains
      // incrementally instead of re-shuffling the adjacency per
      // query.
      val edgeNv = graft.etl.DurableArtifacts.bucketedTable(
        s, table("edgenv", dir), nb, Seq("src"), Seq("src", "dst"))(
        orientedDst.join(
          s.table(table("oriented", dir)).groupBy(col("src"))
            .agg(call_function("graft_pack_sorted",
              collect_list(col("dst"))).as("nbrs"))
            .select(col("src").as("dst"), col("nbrs").as("nv")),
          Seq("dst")))
      // final partDeg re-rooted on the durable oriented table: the
      // oriented rows ARE the undirected edge set (one row per edge),
      // so endpoint counts equal the pEdges-derived degrees — but the
      // recompute path is now a bucketed scan + agg, not a self-join
      val partDeg = b.persist(
        oriented.select(col("src").as("node"))
          .unionAll(oriented.select(col("dst").as("node")))
          .groupBy(col("node")).agg(count(lit(1)).as("deg")))
      Arts(deg, edgesDeg, edgesDst, nNodes, partDeg, oriented, orientedDst,
        edgeNv)
    }
  }

  /** g5's edge set: the REPEAT-BUSINESS graph — a customer↔supplier
    * edge exists only when the pair co-occurs in >= 2 distinct orders.
    * The full bipartite graph (GraphArtifacts) is near-complete on
    * this corpus (min degree ~10 already at sf0.01), so small-k
    * peeling over it is a no-op; thresholding on relationship
    * multiplicity yields the long-tailed degree distribution coreness
    * is designed to segment (sf0.1: 4.5k deg-1 nodes down to a 904-
    * node deg>=8 core). Same lifecycle as GraphArtifacts: one durable
    * src-bucketed (src, dst)-sorted edge table per corpus dir + a
    * persisted degree frame, LRU residency, recompute lineage rooted
    * on the bucketed scan. */
  private object RepeatGraphArtifacts {
    final case class Arts(edges: DataFrame, deg: DataFrame, nNodes: Long)

    private def table(dir: String): String =
      s"graft_g_rep_${graft.ArtifactRegistry.dirTag(dir)}"
    private val reg = new graft.ArtifactRegistry[Arts](
      onRetire = (s, dir) => graft.etl.DurableArtifacts.drop(s, table(dir)))

    def apply(s: SparkSession, dir: String): Arts =
      reg(s, dir)(build(s, dir, _))

    private def build(s: SparkSession, dir: String,
        b: graft.ArtifactRegistry.Build): Arts = {
      val nb = s.conf.get("spark.sql.shuffle.partitions", "32").toInt
      val pairs = Tables(s, dir, "orders")
        .join(Tables(s, dir, "lineitem"),
          col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("o_custkey").as("ck"), col("l_suppkey").as("sk"))
        .agg(countDistinct(col("o_orderkey")).as("m"))
        .filter(col("m") >= 2)
      // build-or-attach like every other durable graph table (round
      // 14): a sibling session attaches to the existing table (and is
      // refcounted by DurableArtifacts) instead of rewriting it
      // underneath the first session's scans
      val edges = graft.etl.DurableArtifacts.bucketedTable(
        s, table(dir), nb, Seq("src"), Seq("src", "dst")) {
        pairs
          .select((col("ck") * 2).as("src"), (col("sk") * 2 + 1).as("dst"))
          .unionAll(pairs.select((col("sk") * 2 + 1).as("src"),
            (col("ck") * 2).as("dst")))
      }
      val (deg, nNodes) = b.persistCounted(
        edges.groupBy(col("src")).agg(count(lit(1)).as("deg")))
      Arts(edges, deg, nNodes)
    }
  }

  /** src-ordered sequential sum of `c` per `dst` — one row per dst,
    * column `sm`. A FULL-FRAME ordered window (every row of the
    * partition, ordered by src) folds the partition sequentially in
    * src order, so the double sum is the exact left fold DuckDB's
    * `list_sum(list(c ORDER BY src))` computes; the groupBy(max)
    * collapses the identical per-row values to one row per key
    * (order-insensitive over equal values, so it can't perturb the
    * contract). Versus the collect_list + array_sort + HOF-aggregate
    * encoding of the same fold: no per-dst array buffer (a hub node's
    * buffer was O(degree)) and no interpreted per-element lambda —
    * sort-based, spill-safe, measured ~2x faster at sf1. The window
    * is PARTITIONED by dst (high-cardinality), so the repo-wide
    * no-unpartitioned-window lock holds. A plain groupBy(sum) after a
    * sortWithinPartitions would NOT be safe: Catalyst's
    * EliminateSorts legally drops sorts under aggregates, silently
    * breaking fold order — window order is semantic and survives. */
  private def orderedFoldSum(contrib: DataFrame): DataFrame = {
    val wFold = Window.partitionBy(col("dst")).orderBy(col("src"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    contrib
      .withColumn("sm", sum(col("c")).over(wFold))
      .groupBy(col("dst")).agg(max(col("sm")).as("sm"))
  }

  /** One PageRank/PPR round's contribution frame (dst, src,
    * c = r/deg). Small-rank path (≤ [[maxBroadcastNodes]]): ranks
    * BROADCAST into the dst-bucketed (dst, src)-sorted edge table, so
    * the fold above plans with no exchange and no sort — the stream
    * side of a broadcast join keeps the scan's bucketed partitioning
    * and file sort order, which is exactly the window's requirement.
    * The fold ORDER is unchanged (src within dst), so results stay
    * bit-identical to the shuffle path, which giant graphs (ranks too
    * big to broadcast) fall back to. */
  private def roundContrib(arts: GraphArtifacts.Arts,
      ranks: DataFrame): DataFrame =
    if (arts.nNodes <= maxBroadcastNodes)
      arts.edgesDst
        .join(broadcast(ranks.withColumnRenamed("node", "src")), "src")
        .select(col("dst"), col("src"), (col("r") / col("deg")).as("c"))
    else
      arts.edgesDeg
        .join(ranks.withColumnRenamed("node", "src"), "src")
        .select(col("dst"), col("src"), (col("r") / col("deg")).as("c"))

  /** One un-cut g1 round for plan audits (PlanAuditSpec /
    * Round9InvariantsSpec): the fold over the broadcast-joined
    * dst-bucketed edge table must plan with no shuffle exchange —
    * the scale property every round of g1/g3 rides on. */
  private[graft] def auditRound(s: SparkSession, dir: String): DataFrame = {
    val arts = GraphArtifacts(s, dir)
    // uniform r (no nDf crossJoin): the audit isolates the ROUND's
    // plan — g1's real init adds only a 1-row broadcast to this
    val r0 = arts.deg.select(col("src").as("node"),
      lit(1.0).cast("double").as("r"))
    orderedFoldSum(roundContrib(arts, r0))
  }

  /** One un-cut g4 label round for plan audits: labels broadcast into
    * the dst-bucketed edge table, then label-count and argmax aggs
    * both keyed on (a superset of) dst — the whole round must plan
    * with zero shuffle exchanges (see g4's Scaladoc). */
  private[graft] def auditLabelRound(s: SparkSession, dir: String): DataFrame = {
    val arts = GraphArtifacts(s, dir)
    val l0 = arts.deg.select(col("src").as("node"), col("src").as("lbl"))
    arts.edgesDst
      .join(broadcast(l0.withColumnRenamed("node", "src")), "src")
      .groupBy(col("dst"), col("lbl")).agg(count(lit(1)).as("cnt"))
      .groupBy(col("dst"))
      .agg(max(struct(col("cnt"), (-col("lbl")).as("nl"))).as("m"))
      .select(col("dst").as("node"), (-col("m.nl")).as("lbl"))
  }

  /** The g2 co-occurrence pair join over the ok-bucketed (order,
    * part) incidence table: both join legs read the SAME bucketed
    * scan, so the equi-join on ok plans with no exchange on either
    * side (ShuffledHashJoin over two bucket-partitioned scans; the
    * hint keeps AQE from broadcasting an index-sized side). */
  private def incidenceSelfJoin(li: DataFrame): DataFrame =
    li.as("a").hint("shuffle_hash")
      .join(li.as("b").hint("shuffle_hash"),
        col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
      .select(col("a.pk").as("u"), col("b.pk").as("v"))

  /** g2's edge-build join for plan audits: must read the durable
    * bucketed incidence table on both sides with ZERO shuffle
    * exchanges (the pair `distinct` downstream is the only exchange
    * the edge build is allowed). */
  private[graft] def auditEdgeBuild(s: SparkSession, dir: String): DataFrame = {
    GraphArtifacts(s, dir) // materializes the durable incidence table
    incidenceSelfJoin(s.table(
      s"graft_g_inc_${graft.ArtifactRegistry.dirTag(dir)}"))
  }

  /** g1 — 3-round damped PageRank (d = 0.85) over the undirected
    * customer↔supplier graph. Node ids are disambiguated by parity
    * (customer k → 2k, supplier k → 2k+1). Undirected ⇒ no dangling
    * nodes (every node has out-degree ≥ 1), so no dangling-mass
    * redistribution term is needed. */
  private def g1(s: SparkSession, dir: String): DataFrame = {
    val arts = GraphArtifacts(s, dir)
    val deg = arts.deg
    val nDf = deg.agg(count(lit(1)).as("n"))

    var ranks = deg.crossJoin(broadcast(nDf))
      .select(col("src").as("node"),
        (lit(1.0).cast("double") / col("n")).as("r"))
    for (_ <- 1 to 3) {
      ranks = cutLineage(orderedFoldSum(roundContrib(arts, ranks))
        .crossJoin(broadcast(nDf))
        .select(col("dst").as("node"),
          (lit(0.15).cast("double") / col("n") +
            lit(0.85).cast("double") * col("sm")).as("r")))
    }
    ranks
      .join(deg.withColumnRenamed("src", "node"), "node")
      .select(col("node"), (col("node") % 2).as("is_supplier"),
        col("deg"), fround(col("r"), 8).as("pagerank"))
      .orderBy(col("node"))
  }

  private val g1Sql = {
    def round(k: Int) =
      s"""r$k AS (
        |  SELECT e.dst AS node,
        |    CAST(0.15 AS DOUBLE) / MAX(n.n) +
        |    CAST(0.85 AS DOUBLE) * list_sum(list(p.r / deg.deg ORDER BY e.src)) AS r
        |  FROM e JOIN r${k - 1} p ON e.src = p.node
        |         JOIN deg ON e.src = deg.src
        |         CROSS JOIN n
        |  GROUP BY e.dst)""".stripMargin
    s"""WITH pe AS (
      |  SELECT DISTINCT o.o_custkey AS ck, l.l_suppkey AS sk
      |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
      |e AS (
      |  SELECT ck * 2 AS src, sk * 2 + 1 AS dst FROM pe
      |  UNION ALL
      |  SELECT sk * 2 + 1 AS src, ck * 2 AS dst FROM pe),
      |deg AS (SELECT src, COUNT(*) AS deg FROM e GROUP BY src),
      |n AS (SELECT COUNT(*) AS n FROM deg),
      |r0 AS (SELECT src AS node, CAST(1.0 AS DOUBLE) / n.n AS r FROM deg, n),
      |${round(1)},
      |${round(2)},
      |${round(3)}
      |SELECT r3.node, r3.node % 2 AS is_supplier, deg.deg,
      |  FLOOR(r3.r * 1e8 + 0.5) / 1e8 AS pagerank
      |FROM r3 JOIN deg ON r3.node = deg.src
      |ORDER BY r3.node""".stripMargin
  }

  /** g2 — triangle counting + local clustering coefficient over the
    * part co-occurrence graph (parts are nodes; an edge connects two
    * parts that appear in the same order — the "bought together"
    * graph, ~constant average degree as SF grows).
    *
    * Algorithm: the degree-ordered orientation (Schank-Wagner /
    * Latapy): every undirected edge is directed from its
    * lower-(degree, id) endpoint to the higher one, so each triangle
    * is found EXACTLY once (at its lowest-key corner) and the wedge
    * join fans out from out-degrees, which orientation bounds by
    * O(sqrt(m)) regardless of raw degree skew — the standard trick
    * that keeps distributed triangle counting from exploding on hub
    * nodes.
    *
    * Scale (100 TB): edges are one self-join of the (order, part)
    * projection keyed on order (bounded per-order fan-out) + distinct.
    * Closure runs EDGE-wise, not wedge-wise: each oriented edge
    * (u, v) fetches both endpoints' out-neighbor arrays (two keyed
    * joins against the grouped adjacency) and counts
    * |N+(u) ∩ N+(v)| via `array_intersect` — a per-row sorted-set
    * intersection over orientation-bounded (O(sqrt m)) arrays. The
    * alternative wedge self-join materializes Σ outdeg² rows through
    * a shuffle (36M at sf0.1, measured 5.8 s); the intersection form
    * shuffles only |E| adjacency rows + 3·|triangles| exploded
    * corners (measured 3× faster, and the gap widens with density). */
  private def g2(s: SparkSession, dir: String): DataFrame = {
    val arts = GraphArtifacts(s, dir)
    val (deg, oriented, edgeNv) =
      (arts.partDeg, arts.oriented, arts.edgeNv)
    // adjacency is node-sized WITH O(sqrt m) arrays — never broadcast.
    // Packed (graft_pack_sorted: sort + delta-varint, ~1-2 B/element
    // vs UnsafeArrayData's 8 B + header); built zero-exchange off the
    // src-bucketed oriented scan, and the intersection decodes lazily
    // during its merge walk (graft_packed_intersect) — no unpacked
    // array ever materializes.
    val adj = oriented.groupBy(col("src"))
      .agg(call_function("graft_pack_sorted",
        collect_list(col("dst"))).as("nbrs"))
      .hint("shuffle_hash")
    // per-edge closure: triangle (u, v, w) for every w in N+(u)∩N+(v).
    // The dst endpoint's adjacency (nv — the Σ din·dout payload, 41%
    // smaller than the Σ dout² nu-first order) comes PRE-ATTACHED and
    // SRC-BUCKETED from the durable closure-input table, so the nu
    // attach below is bucket-co-partitioned too and the whole closure
    // plans with zero exchanges: the only shuffle left in g2 is the
    // per-node rollup. History of this exchange: nv-first ordering
    // (41% fewer array elements), then delta-varint packing (2.06x
    // whole-query at sf3, 25.4 -> 12.3 s), now folded into the
    // artifact build entirely (round-12 same-window A/B in
    // SCALING.md).
    val tris = edgeNv
      .join(adj.select(col("src"), col("nbrs").as("nu")), Seq("src"))
      .select(col("src"), col("dst"),
        explode(call_function("graft_packed_intersect",
          col("nu"), col("nv"))).as("w"))
      .select(explode(array(col("src"), col("dst"), col("w"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("triangles"))
    val out = tris.join(deg, "node")
      .select(col("node").as("part"), col("deg"), col("triangles"),
        fround((col("triangles") * 2).cast("double") /
          (col("deg").cast("double") * (col("deg") - 1)), 6).as("clustering"))
      .orderBy(col("triangles").desc, col("part")).limit(20)
    out
  }

  private val g2Sql =
    """WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
      |e AS (SELECT DISTINCT a.pk AS u, b.pk AS v
      |      FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk),
      |deg AS (SELECT node, COUNT(*) AS deg FROM
      |          (SELECT u AS node FROM e UNION ALL SELECT v FROM e)
      |        GROUP BY node),
      |o AS (SELECT CASE WHEN du.deg < dv.deg OR (du.deg = dv.deg AND e.u < e.v)
      |                  THEN e.u ELSE e.v END AS src,
      |             CASE WHEN du.deg < dv.deg OR (du.deg = dv.deg AND e.u < e.v)
      |                  THEN e.v ELSE e.u END AS dst
      |      FROM e JOIN deg du ON e.u = du.node
      |             JOIN deg dv ON e.v = dv.node),
      |adj AS (SELECT src, list(dst) AS nbrs FROM o GROUP BY src),
      |tri AS (SELECT node, COUNT(*) AS triangles FROM (
      |          SELECT UNNEST([o.src, o.dst, w.w]) AS node FROM o
      |          JOIN adj au ON o.src = au.src
      |          JOIN adj av ON o.dst = av.src
      |          CROSS JOIN UNNEST(list_intersect(au.nbrs, av.nbrs)) AS w(w))
      |        GROUP BY node)
      |SELECT tri.node AS part, deg.deg, tri.triangles,
      |  FLOOR(CAST(tri.triangles * 2 AS DOUBLE) /
      |        (CAST(deg.deg AS DOUBLE) * (deg.deg - 1)) * 1e6 + 0.5) / 1e6 AS clustering
      |FROM tri JOIN deg ON tri.node = deg.node
      |ORDER BY tri.triangles DESC, part LIMIT 20""".stripMargin

  /** g3 — personalized PageRank (random walk with restart): g1's
    * recipe, but ALL teleport mass returns to a seed set (customers
    * 1-10) instead of spreading uniformly — the ranks become
    * relevance TO THE SEEDS, the engine behind "suppliers similar to
    * this customer's" recommendations and seed-expansion labeling.
    * Emits the top-50 non-seed nodes by seeded rank.
    *
    * Same determinism contract and per-round shape as g1 (keyed
    * join + source-ordered fold + lineage cut); the only new frame is
    * the 10-row seed table, a broadcast. Nodes unreachable in 3 rounds
    * simply keep rank 0 via the left join against the full node set. */
  private def g3(s: SparkSession, dir: String): DataFrame = {
    val arts = GraphArtifacts(s, dir)
    val deg = arts.deg

    // seed distribution: uniform over customer nodes 2..20 (even)
    val isSeed = col("node") % 2 === 0 && col("node") <= 20
    val nodes = deg.select(col("src").as("node"))
    var ranks = nodes.select(col("node"),
      when(isSeed, lit(0.1).cast("double")).otherwise(lit(0.0).cast("double"))
        .as("r"))
    for (_ <- 1 to 3) {
      // walk frontier only (r > 0) — filtered BEFORE the round's join,
      // so the broadcast ships the frontier, not the full node set
      val contrib = roundContrib(arts, ranks.filter(col("r") > 0))
      val spread = orderedFoldSum(contrib)
        .select(col("dst").as("node"), (lit(0.85).cast("double") * col("sm")).as("d"))
      ranks = cutLineage(nodes
        .join(spread, Seq("node"), "left")
        .select(col("node"),
          (when(isSeed, lit(0.15).cast("double") * lit(0.1).cast("double"))
            .otherwise(lit(0.0).cast("double")) +
            coalesce(col("d"), lit(0.0).cast("double"))).as("r")))
    }
    ranks.filter(!isSeed && col("r") > 0)
      .select(col("node"), (col("node") % 2).as("is_supplier"),
        fround(col("r"), 8).as("ppr"))
      .orderBy(col("r").desc, col("node")).limit(50)
      .select(col("node"), col("is_supplier"), col("ppr"))
  }

  private val g3Sql = {
    def round(k: Int) =
      s"""r$k AS (
        |  SELECT n.node,
        |    CASE WHEN n.node % 2 = 0 AND n.node <= 20
        |         THEN CAST(0.15 AS DOUBLE) * CAST(0.1 AS DOUBLE)
        |         ELSE CAST(0.0 AS DOUBLE) END +
        |    COALESCE(sp.d, CAST(0.0 AS DOUBLE)) AS r
        |  FROM nodes n LEFT JOIN (
        |    SELECT e.dst AS node,
        |      CAST(0.85 AS DOUBLE) *
        |        list_sum(list(p.r / deg.deg ORDER BY e.src)) AS d
        |    FROM e JOIN r${k - 1} p ON e.src = p.node AND p.r > 0
        |           JOIN deg ON e.src = deg.src
        |    GROUP BY e.dst) sp ON n.node = sp.node)""".stripMargin
    s"""WITH pe AS (
      |  SELECT DISTINCT o.o_custkey AS ck, l.l_suppkey AS sk
      |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
      |e AS (
      |  SELECT ck * 2 AS src, sk * 2 + 1 AS dst FROM pe
      |  UNION ALL
      |  SELECT sk * 2 + 1 AS src, ck * 2 AS dst FROM pe),
      |deg AS (SELECT src, COUNT(*) AS deg FROM e GROUP BY src),
      |nodes AS (SELECT src AS node FROM deg),
      |r0 AS (SELECT node,
      |  CASE WHEN node % 2 = 0 AND node <= 20 THEN CAST(0.1 AS DOUBLE)
      |       ELSE CAST(0.0 AS DOUBLE) END AS r FROM nodes),
      |${round(1)},
      |${round(2)},
      |${round(3)}
      |SELECT node, node % 2 AS is_supplier, FLOOR(r * 1e8 + 0.5) / 1e8 AS ppr
      |FROM r3
      |WHERE NOT (node % 2 = 0 AND node <= 20) AND r > 0
      |ORDER BY r DESC, node LIMIT 50""".stripMargin
  }

  /** g4 — label-propagation communities (synchronous LPA, Raghavan
    * et al. 2007) on the bipartite order graph: every node starts as
    * its own label; each round a node adopts its neighbors' MODE
    * label (tie → smallest label — the determinism that async LPA
    * lacks), three rounds unrolled; output is the community-size
    * distribution. Integer-only arithmetic, so the rounds are
    * bit-replayable in any engine — the oracle unrolls the same
    * three rounds as CTE stages.
    *
    * Scale: a round rides the g1/g3 broadcast shape — the node-sized
    * label frame broadcasts into the dst-bucketed edge table, and
    * BOTH hash aggs (label counts keyed (dst, lbl), then the per-node
    * argmax keyed dst — a max-of-struct partial agg, never a rank
    * window) run exchange-free: the broadcast join preserves the
    * scan's bucketing on dst, and HashPartitioning(dst) satisfies the
    * clustered distribution of any grouping whose keys include dst.
    * Past [[maxBroadcastNodes]] the round falls back to one keyed
    * join (edges ⋈ labels on src) + the same two aggs; label counts
    * are integer and the argmax a total order, so both paths are
    * bit-identical. Lineage is cut per round (the ConnectedComponents
    * localCheckpoint lesson). Rounds are O(diameter) in general;
    * fixed at 3 here so the gate is static. */
  private def g4(s: SparkSession, dir: String): DataFrame = {
    val arts = GraphArtifacts(s, dir)
    val edges =
      if (arts.nNodes <= maxBroadcastNodes) arts.edgesDst
      else arts.edgesDeg.select(col("src"), col("dst"))
    def joinLabels(lbls: DataFrame): DataFrame =
      if (arts.nNodes <= maxBroadcastNodes)
        edges.join(broadcast(lbls.withColumnRenamed("node", "src")), "src")
      else edges.join(lbls.withColumnRenamed("node", "src"), "src")
    var labels = arts.deg
      .select(col("src").as("node"), col("src").as("lbl"))
    for (_ <- 1 to 3) {
      labels = joinLabels(labels)
        .groupBy(col("dst"), col("lbl"))
        .agg(count(lit(1)).as("cnt"))
        // argmax by (cnt desc, lbl asc) as a struct max — partial+final
        .groupBy(col("dst"))
        .agg(max(struct(col("cnt"), (-col("lbl")).as("nl"))).as("m"))
        .select(col("dst").as("node"), (-col("m.nl")).as("lbl"))
      labels = cutLineage(labels)
    }
    labels.groupBy(col("lbl")).agg(count(lit(1)).as("size"))
      .groupBy(col("size")).agg(count(lit(1)).as("n_communities"))
      .orderBy(col("size"))
  }

  private val g4Sql =
    """WITH pairs AS (
      |  SELECT DISTINCT o_custkey AS ck, l_suppkey AS sk
      |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
      |edges AS (
      |  SELECT ck * 2 AS src, sk * 2 + 1 AS dst FROM pairs
      |  UNION ALL SELECT sk * 2 + 1, ck * 2 FROM pairs),
      |l0 AS (SELECT DISTINCT src AS node, src AS lbl FROM edges),
      |c1 AS (SELECT e.dst, l.lbl, COUNT(*) AS cnt FROM edges e
      |  JOIN l0 l ON e.src = l.node GROUP BY 1, 2),
      |l1 AS (SELECT dst AS node, lbl FROM (SELECT dst, lbl,
      |    ROW_NUMBER() OVER (PARTITION BY dst ORDER BY cnt DESC, lbl ASC) AS rn
      |  FROM c1) t WHERE rn = 1),
      |c2 AS (SELECT e.dst, l.lbl, COUNT(*) AS cnt FROM edges e
      |  JOIN l1 l ON e.src = l.node GROUP BY 1, 2),
      |l2 AS (SELECT dst AS node, lbl FROM (SELECT dst, lbl,
      |    ROW_NUMBER() OVER (PARTITION BY dst ORDER BY cnt DESC, lbl ASC) AS rn
      |  FROM c2) t WHERE rn = 1),
      |c3 AS (SELECT e.dst, l.lbl, COUNT(*) AS cnt FROM edges e
      |  JOIN l2 l ON e.src = l.node GROUP BY 1, 2),
      |l3 AS (SELECT dst AS node, lbl FROM (SELECT dst, lbl,
      |    ROW_NUMBER() OVER (PARTITION BY dst ORDER BY cnt DESC, lbl ASC) AS rn
      |  FROM c3) t WHERE rn = 1),
      |comm AS (SELECT lbl, COUNT(*) AS size FROM l3 GROUP BY lbl)
      |SELECT size, COUNT(*) AS n_communities
      |FROM comm GROUP BY size ORDER BY size""".stripMargin

  /** One k-core peel round: survivors_{r+1} = {n ∈ survivors_r :
    * deg restricted to survivors_r (n) >= k}. Survivor frames are
    * NODE-count rows (the rank/label-frame size class), so up to
    * [[maxBroadcastNodes]] both the neighbor-survival filter and the
    * prior-survivor restriction broadcast into the src-bucketed edge
    * scan and the round plans with ZERO shuffle exchanges (the degree
    * recount groups by the bucket key — PlanAuditSpec lock via
    * [[auditPeelRound]]); past the bound it falls back to two keyed
    * joins, same results. */
  private def peelRound(arts: RepeatGraphArtifacts.Arts, surv: DataFrame,
      k: Int): DataFrame = {
    val bc = arts.nNodes <= maxBroadcastNodes
    def maybeBc(df: DataFrame): DataFrame = if (bc) broadcast(df) else df
    // No explicit "src ∈ surv" restriction needed: survivor sets
    // shrink monotonically, so a node dropped at round j had degree
    // < k among surv_{j-1} ⊇ surv_r and can never re-qualify — the
    // degree filter alone reproduces the textbook peel (and the
    // oracle SQL mirrors the same single-leg shape).
    arts.edges
      .join(maybeBc(surv.withColumnRenamed("node", "dst")), "dst")
      .groupBy(col("src")).agg(count(lit(1)).as("d"))
      .filter(col("d") >= k)
      .select(col("src").as("node"))
  }

  /** One un-cut g5 peel round for plan audits: both survivor joins
    * broadcast into the src-bucketed repeat-graph edge scan, degree
    * recount keyed on the bucket key — zero shuffle exchanges. */
  private[graft] def auditPeelRound(s: SparkSession, dir: String): DataFrame = {
    val arts = RepeatGraphArtifacts(s, dir)
    peelRound(arts, arts.deg.filter(col("deg") >= 2)
      .select(col("src").as("node")), 2)
  }

  /** g5 — k-core peel cascade over the repeat-business graph
    * ([[RepeatGraphArtifacts]]): for k ∈ {2, 3, 4}, four rounds of
    * the standard peel (drop nodes whose degree among survivors is
    * < k; Matula & Beck's algorithm, one synchronous round per
    * iteration), reporting survivors per (k, round) — the cascade
    * profile a training-data curation stack uses to pick a coreness
    * threshold before filtering a web graph (low-coreness pages are
    * the isolated/spammy tail; the k-core is the densely-linked
    * center). The reference has no graph table, so the graph is
    * derived like g1-g4's (customers/suppliers as nodes) but
    * thresholded on repeat co-occurrence so the peel has something
    * to bite (see RepeatGraphArtifacts).
    *
    * Semantics: survivors shrink MONOTONICALLY (surv_{r+1} ⊆
    * surv_r), so equal consecutive counts ⇔ fixpoint reached — the
    * cascade rows double as the convergence audit (sf0.1: k=4 peels
    * 1324 → 389 → 64 → 1, still cascading; k=2 converges by round 3).
    * The declared query pins R = 4 rounds for bounded cross-engine
    * determinism (the g4/mmr unrolled-round convention); production
    * loops to fixpoint with a per-round count comparison — the counts
    * are already driver-side scalars in that loop, and monotonicity
    * makes count-equality a complete convergence test.
    *
    * Determinism: pure integer degree counts and thresholds — no
    * floats, no tie-breaks; both engines compute identical sets by
    * construction.
    *
    * Scale: each round is survivor-broadcast ⋈ bucketed edge scan →
    * bucket-keyed recount (zero exchanges, see [[peelRound]]); the
    * survivor frame is lineage-cut per round (the iterative-plan
    * lesson). 12 rounds touch edge-count rows each — at 100 TB the
    * graph build (one agg over the fact join) dominates, and that is
    * a once-per-corpus durable artifact, not per-query work. */
  private def g5(s: SparkSession, dir: String): DataFrame = {
    val arts = RepeatGraphArtifacts(s, dir)
    def cascade(k: Int): DataFrame = {
      var surv = arts.deg.filter(col("deg") >= k)
        .select(col("src").as("node"))
      var rows = Seq(survCount(surv, k, 1))
      for (r <- 2 to 4) {
        surv = peelRound(arts, surv, k)
        // cut per round (the iterative-plan convention): each round
        // materializes ONCE and every later count branch reads the
        // checkpoint instead of recomputing the whole cascade prefix
        // (measured: no cuts 3.35 s vs 1.93 s at sf0.1 — the 12
        // union branches make uncut recomputation quadratic in
        // rounds; cut frequency itself is free at node-frame size,
        // per-round vs mid-only measured identical)
        surv = cutLineage(surv)
        rows :+= survCount(surv, k, r)
      }
      rows.reduce(_ unionAll _)
    }
    // The three cascades are INDEPENDENT (each peels from its own
    // degree threshold over the shared durable edge artifact), and
    // each one's construction runs 3 sequential localCheckpoint jobs
    // — so build them from concurrent driver threads (guide §2.6:
    // a later job's tasks back-fill executors freed by the earlier
    // job's tail; job submission is thread-safe and `arts` is
    // resolved once before the threads, so no registry race).
    // Per-cascade rows are deterministic either way; the final
    // ORDER BY fixes cross-cascade order.
    import scala.concurrent.{Await, ExecutionContext, Future, blocking}
    import scala.concurrent.duration.Duration
    implicit val ec: ExecutionContext = ExecutionContext.global
    (2 to 4).map(k => Future(blocking { cascade(k) }))
      .map(Await.result(_, Duration.Inf))
      .reduce(_ unionAll _)
      .orderBy(col("k"), col("peel_round"))
  }

  private def survCount(surv: DataFrame, k: Int, r: Int): DataFrame =
    surv.agg(count(lit(1)).as("n_surviving"))
      .select(lit(k).as("k"), lit(r).as("peel_round"), col("n_surviving"))

  private val g5Sql = {
    def round(k: Int, prev: String, cur: String): String =
      s"""$cur AS (SELECT e.src AS node FROM edges e
         |  JOIN $prev p ON e.dst = p.node
         |  GROUP BY e.src HAVING COUNT(*) >= $k)""".stripMargin
    def chain(k: Int, pfx: String): String =
      (s"""${pfx}1 AS (SELECT node FROM d0 WHERE deg >= $k)""" +:
        (2 to 4).map(r => round(k, s"$pfx${r - 1}", s"$pfx$r")))
        .mkString(",\n")
    def counts(k: Int, pfx: String): String =
      (1 to 4).map(r =>
        s"SELECT $k AS k, $r AS peel_round, COUNT(*) AS n_surviving FROM $pfx$r")
        .mkString("\n  UNION ALL ")
    s"""WITH pr AS (
       |  SELECT o_custkey AS ck, l_suppkey AS sk
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
       |  GROUP BY 1, 2 HAVING COUNT(DISTINCT o_orderkey) >= 2),
       |edges AS (
       |  SELECT ck * 2 AS src, sk * 2 + 1 AS dst FROM pr
       |  UNION ALL SELECT sk * 2 + 1, ck * 2 FROM pr),
       |d0 AS (SELECT src AS node, COUNT(*) AS deg FROM edges GROUP BY src),
       |${chain(2, "a")},
       |${chain(3, "b")},
       |${chain(4, "c")}
       |SELECT k, peel_round, n_surviving FROM (
       |  ${counts(2, "a")}
       |  UNION ALL ${counts(3, "b")}
       |  UNION ALL ${counts(4, "c")})
       |ORDER BY k, peel_round""".stripMargin
  }

  /** g6 — multi-source REACHABILITY (bounded BFS): hop distance ≤ 3
    * from the seed customers (custkey % 100 = 1 ⇔ node % 200 = 2 on
    * the doubled encoding) over the repeat-business graph — the
    * "blast radius" query every graph deployment runs (fraud rings,
    * recall cascades, influence frontiers). Textbook frontier BFS,
    * unrolled: each round expands ONLY the newest frontier (a node
    * discovered at hop h never needs re-expansion — any neighbor is
    * already ≤ h+1) against the src-bucketed durable edge table, so
    * the edge side joins with zero exchange (HashPartitioning(src),
    * g1's serving shape) and only the node-sized frontier shuffles;
    * per-round localCheckpoint cuts the iterative lineage (the s19
    * rule). Output: per-hop node counts split by side + key checksum
    * — the bipartite structure (customers on even hops, suppliers on
    * odd) is an invariant gate. Oracle: recursive CTE BFS with
    * dedup-UNION frontier semantics, MIN(d) per node. */
  private def g6(s: SparkSession, dir: String): DataFrame = {
    val edges = RepeatGraphArtifacts(s, dir).edges
    val seeds = edges.select(col("src").as("node")).distinct()
      .filter(col("node") % 200 === 2)
    var dist = seeds.withColumn("hops", lit(0L)).localCheckpoint()
    for (r <- 1 to 3) {
      val next = dist.filter(col("hops") === (r - 1).toLong)
        .join(edges, col("node") === col("src"))
        .select(col("dst").as("node"), lit(r.toLong).as("hops"))
      dist = dist.unionByName(next)
        .groupBy(col("node")).agg(min(col("hops")).as("hops"))
        .localCheckpoint()
    }
    dist.groupBy(col("hops"))
      .agg(count(lit(1)).as("n_nodes"),
        sum(when(col("node") % 2 === 0, 1L).otherwise(0L))
          .as("n_customers"),
        sum(col("node")).as("key_sum"))
      .orderBy(col("hops"))
  }

  private val g6Sql =
    """WITH RECURSIVE pr AS (
      |  SELECT o_custkey AS ck, l_suppkey AS sk
      |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      |  GROUP BY 1, 2 HAVING COUNT(DISTINCT o_orderkey) >= 2),
      |edges AS (
      |  SELECT ck * 2 AS src, sk * 2 + 1 AS dst FROM pr
      |  UNION ALL SELECT sk * 2 + 1, ck * 2 FROM pr),
      |seeds AS (
      |  SELECT DISTINCT src AS node FROM edges WHERE src % 200 = 2),
      |bfs(node, d) AS (
      |  SELECT node, 0 FROM seeds
      |  UNION
      |  SELECT e.dst, bfs.d + 1 FROM bfs
      |  JOIN edges e ON e.src = bfs.node WHERE bfs.d < 3),
      |md AS (SELECT node, MIN(d) AS hops FROM bfs GROUP BY node)
      |SELECT CAST(hops AS BIGINT) AS hops, COUNT(*) AS n_nodes,
      |  CAST(SUM(CASE WHEN node % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_customers,
      |  CAST(SUM(node) AS BIGINT) AS key_sum
      |FROM md GROUP BY hops ORDER BY hops""".stripMargin

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "g4_label_prop" -> g4,
    "g1_pagerank" -> g1,
    "g2_triangles" -> g2,
    "g3_seeded_ppr" -> g3,
    "g5_kcore" -> g5,
    "g6_reachability" -> g6)

  override def oracle: Map[String, String] = Map(
    "g4_label_prop" -> g4Sql,
    "g1_pagerank" -> g1Sql,
    "g2_triangles" -> g2Sql,
    "g3_seeded_ppr" -> g3Sql,
    "g5_kcore" -> g5Sql,
    "g6_reachability" -> g6Sql)
}
