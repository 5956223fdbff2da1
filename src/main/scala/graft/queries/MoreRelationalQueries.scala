package graft.queries

import graft.{QueryPack, Tables}
import graft.QueryPack.{dec, fround, money}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Second relational coverage pack: outer joins, cube grouping sets,
  * statistical aggregates, string functions, null-handling scalar
  * ops, and a sketch aggregate (q15 emits exact counts plus an
  * `est_ok` accuracy-contract boolean, so it IS fully oracle-gated;
  * the raw HLL estimate is engine-specific and not emitted).
  */
object MoreRelationalQueries extends QueryPack {

  /** q10 — full outer join: per-nation customer counts vs supplier
    * counts, nations may miss either side (coalesced). */
  private def q10(s: SparkSession, dir: String): DataFrame = {
    val c = Tables(s, dir, "customer").groupBy(col("c_nationkey").as("nk"))
      .agg(count(lit(1)).as("n_cust"))
    val su = Tables(s, dir, "supplier").groupBy(col("s_nationkey").as("nk"))
      .agg(count(lit(1)).as("n_supp"))
    c.join(su, Seq("nk"), "full_outer")
      .select(col("nk").cast("long").as("nationkey"),
        coalesce(col("n_cust"), lit(0L)).as("n_cust"),
        coalesce(col("n_supp"), lit(0L)).as("n_supp"))
      .orderBy(col("nationkey"))
  }

  private val q10Sql =
    """SELECT CAST(nk AS BIGINT) AS nationkey,
      |  COALESCE(n_cust, 0) AS n_cust, COALESCE(n_supp, 0) AS n_supp
      |FROM (SELECT c_nationkey AS nk, COUNT(*) AS n_cust FROM customer GROUP BY 1) c
      |FULL OUTER JOIN (SELECT s_nationkey AS nk, COUNT(*) AS n_supp
      |                 FROM supplier GROUP BY 1) s USING (nk)
      |ORDER BY nationkey""".stripMargin

  /** q11 — CUBE grouping sets over (mktsegment, orderpriority). */
  private def q11(s: SparkSession, dir: String): DataFrame = {
    val c = Tables(s, dir, "customer")
    val o = Tables(s, dir, "orders")
    o.join(c, col("o_custkey") === col("c_custkey"))
      .cube(col("c_mktsegment"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
        money(sum(dec(col("o_totalprice")))).as("sum_price"))
      .orderBy(asc_nulls_first("c_mktsegment"), asc_nulls_first("o_orderpriority"))
  }

  private val q11Sql =
    """SELECT c_mktsegment, o_orderpriority, COUNT(*) AS n_orders,
      |  CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_price
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY CUBE (c_mktsegment, o_orderpriority)
      |ORDER BY c_mktsegment ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin

  /** q12 — statistical aggregates per group: exact interpolated
    * median, p90, sample stddev, min/max — the profile scan of a
    * numeric column. */
  private def q12(s: SparkSession, dir: String): DataFrame = {
    Tables(s, dir, "part")
      .groupBy(col("p_brand"))
      .agg(
        count(lit(1)).as("n_parts"),
        fround(expr("percentile(p_retailprice, 0.5)"), 6).as("median_price"),
        fround(expr("percentile(p_retailprice, 0.9)"), 6).as("p90_price"),
        fround(stddev_samp(col("p_retailprice")), 6).as("sd_price"),
        min(col("p_retailprice")).as("min_price"),
        max(col("p_retailprice")).as("max_price"))
      .orderBy(col("p_brand"))
  }

  private val q12Sql =
    """SELECT p_brand, COUNT(*) AS n_parts,
      |  FLOOR(quantile_cont(p_retailprice, 0.5) * 1e6 + 0.5) / 1e6 AS median_price,
      |  FLOOR(quantile_cont(p_retailprice, 0.9) * 1e6 + 0.5) / 1e6 AS p90_price,
      |  FLOOR(stddev_samp(p_retailprice) * 1e6 + 0.5) / 1e6 AS sd_price,
      |  MIN(p_retailprice) AS min_price, MAX(p_retailprice) AS max_price
      |FROM part
      |GROUP BY p_brand
      |ORDER BY p_brand""".stripMargin

  /** q13 — string-function sweep over part names: case, trim, pad,
    * replace, split, edit distance against a fixed probe. */
  private def q13(s: SparkSession, dir: String): DataFrame = {
    Tables(s, dir, "part")
      .select(
        col("p_partkey"),
        upper(col("p_name")).as("uname"),
        org.apache.spark.sql.functions.length(col("p_name")).cast("long").as("name_len"),
        lpad(col("p_brand"), 12, ".").as("brand_pad"),
        regexp_replace(col("p_name"), "[aeiou]", "_").as("devoweled"),
        size(split(col("p_name"), " ")).cast("long").as("n_tokens"),
        levenshtein(col("p_type"), lit("STANDARD BRUSHED")).cast("long").as("type_dist"))
      .orderBy(col("p_partkey"))
  }

  private val q13Sql =
    """SELECT p_partkey, UPPER(p_name) AS uname,
      |  CAST(LENGTH(p_name) AS BIGINT) AS name_len,
      |  LPAD(p_brand, 12, '.') AS brand_pad,
      |  regexp_replace(p_name, '[aeiou]', '_', 'g') AS devoweled,
      |  CAST(len(string_split(p_name, ' ')) AS BIGINT) AS n_tokens,
      |  CAST(levenshtein(p_type, 'STANDARD BRUSHED') AS BIGINT) AS type_dist
      |FROM part
      |ORDER BY p_partkey""".stripMargin

  /** q14 — null-handling scalar ops: nullif/coalesce/least/greatest
    * and conditional buckets over supplier balances. */
  private def q14(s: SparkSession, dir: String): DataFrame = {
    Tables(s, dir, "supplier")
      .select(
        col("s_suppkey"),
        coalesce(nullif(col("s_acctbal"), lit(0.0)), lit(-1.0)).as("bal_or_sentinel"),
        least(col("s_acctbal"), lit(5000.0)).as("bal_capped"),
        greatest(col("s_acctbal"), lit(0.0)).as("bal_floored"),
        when(col("s_acctbal") < 0, "debt")
          .when(col("s_acctbal") < 5000, "mid").otherwise("rich").as("bucket"))
      .orderBy(col("s_suppkey"))
  }

  private val q14Sql =
    """SELECT s_suppkey,
      |  COALESCE(NULLIF(s_acctbal, 0.0), -1.0) AS bal_or_sentinel,
      |  LEAST(s_acctbal, 5000.0) AS bal_capped,
      |  GREATEST(s_acctbal, 0.0) AS bal_floored,
      |  CASE WHEN s_acctbal < 0 THEN 'debt'
      |       WHEN s_acctbal < 5000 THEN 'mid' ELSE 'rich' END AS bucket
      |FROM supplier
      |ORDER BY s_suppkey""".stripMargin

  /** q15 — approx_count_distinct (HLL++) per segment, with a
    * checkable contract: the raw sketch estimate is engine-specific,
    * so the emitted columns are the exact COUNT(DISTINCT) (oracle-
    * reproducible) plus `est_ok` — the HLL estimate is within 5% of
    * exact. HLL++ is deterministic for a given input set (register
    * maxima are order/partitioning-independent), so `est_ok` is a
    * stable boolean the oracle asserts as literal TRUE: if the
    * estimate ever drifts past the contract, the driver hash fails. */
  private def q15(s: SparkSession, dir: String): DataFrame = {
    // Pre-aggregate to one row per (segment, custkey) FIRST, so the
    // HLL sketch (16 KB buffer at rsd=0.01) is only materialized for
    // the handful of segment groups — letting Spark's distinct
    // rewrite place approx_count_distinct in the per-custkey layer
    // allocates a sketch per customer (GBs at scale). HLL over the
    // distinct key set is identical to HLL over the raw stream
    // (register maxima are duplicate-insensitive).
    val perCust = Tables(s, dir, "orders")
      .join(Tables(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"), col("o_custkey"))
      .agg(count(lit(1)).as("n_o"))
    perCust
      .groupBy(col("c_mktsegment"))
      .agg(
        count(col("o_custkey")).as("exact_custs"),
        approx_count_distinct(col("o_custkey"), 0.01).as("approx_custs"),
        sum(col("n_o")).as("n_orders"))
      .select(
        col("c_mktsegment"), col("exact_custs"), col("n_orders"),
        (abs(col("approx_custs") - col("exact_custs"))
          <= lit(0.05) * col("exact_custs")).as("est_ok"))
      .orderBy(col("c_mktsegment"))
  }

  private val q15Sql =
    """SELECT c_mktsegment,
      |  COUNT(DISTINCT o_custkey) AS exact_custs,
      |  COUNT(*) AS n_orders,
      |  TRUE AS est_ok
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY c_mktsegment
      |ORDER BY c_mktsegment""".stripMargin

  /** q16 — correlated scalar subquery (TPC-H Q17 shape), expressed as
    * raw SQL through `spark.sql` over temp views: per-lineitem
    * comparison against the average quantity of its own part.
    * Catalyst decorrelates the subquery into an aggregate+join —
    * the plan a hand-written self-join would produce. Also exercises
    * the engine's SQL entrypoint (everything else is DataFrame API). */
  private def q16(s: SparkSession, dir: String): DataFrame = {
    Tables(s, dir, "lineitem").createOrReplaceTempView("v_lineitem")
    Tables(s, dir, "part").createOrReplaceTempView("v_part")
    s.sql(
      """SELECT p_brand,
        |  CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS small_qty_revenue,
        |  COUNT(*) AS n_lines
        |FROM v_lineitem, v_part
        |WHERE p_partkey = l_partkey
        |  AND l_quantity < (SELECT 0.5 * AVG(l2.l_quantity)
        |                    FROM v_lineitem l2 WHERE l2.l_partkey = p_partkey)
        |GROUP BY p_brand
        |ORDER BY p_brand""".stripMargin)
  }

  private val q16Sql =
    """SELECT p_brand,
      |  CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS small_qty_revenue,
      |  COUNT(*) AS n_lines
      |FROM lineitem, part
      |WHERE p_partkey = l_partkey
      |  AND l_quantity < (SELECT 0.5 * AVG(l2.l_quantity)
      |                    FROM lineitem l2 WHERE l2.l_partkey = p_partkey)
      |GROUP BY p_brand
      |ORDER BY p_brand""".stripMargin

  /** q17 — multiset set ops (EXCEPT ALL / INTERSECT ALL keep
    * duplicate cardinalities, unlike q8's distinct forms). */
  private def q17(s: SparkSession, dir: String): DataFrame = {
    val o = Tables(s, dir, "orders")
    val hi = o.filter(col("o_totalprice") > 150000).select(col("o_custkey"))
    val urgent = o.filter(col("o_orderpriority") === "1-URGENT").select(col("o_custkey"))
    hi.exceptAll(urgent).groupBy(col("o_custkey")).agg(count(lit(1)).as("n_excess"))
      .withColumn("op", lit("except_all"))
      .unionByName(
        hi.intersectAll(urgent).groupBy(col("o_custkey"))
          .agg(count(lit(1)).as("n_excess"))
          .withColumn("op", lit("intersect_all")))
      .orderBy(col("op"), col("o_custkey"))
  }

  private val q17Sql =
    """WITH hi AS (SELECT o_custkey FROM orders WHERE o_totalprice > 150000),
      |     urgent AS (SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'),
      |     ea AS (SELECT o_custkey FROM hi EXCEPT ALL SELECT o_custkey FROM urgent),
      |     ia AS (SELECT o_custkey FROM hi INTERSECT ALL SELECT o_custkey FROM urgent)
      |SELECT o_custkey, n_excess, op FROM (
      |  SELECT o_custkey, COUNT(*) AS n_excess, 'except_all' AS op FROM ea GROUP BY o_custkey
      |  UNION ALL
      |  SELECT o_custkey, COUNT(*) AS n_excess, 'intersect_all' AS op FROM ia GROUP BY o_custkey)
      |ORDER BY op, o_custkey""".stripMargin

  /** q18 — count-min sketch heavy hitters, relationally: every key
    * hashes into `depth` rows of `width` buckets (md5-derived, exact
    * int64 — cross-engine identical), bucket totals aggregate in one
    * partial+final pass, and a key's estimate is the MIN of its
    * buckets' totals. Output: the top-20 exact heavy hitters with
    * exact count, CMS estimate, and the (always ≥ 0) overestimate —
    * the error accounting that tells a pipeline whether width×depth
    * is sized right. The sketch table is depth×width rows regardless
    * of corpus size: THE constant-memory distributed-sketch shape
    * (the same layout a streaming CMS would merge per batch). */
  private def q18(s: SparkSession, dir: String): DataFrame = {
    val depth = 4
    val width = 256
    val ev = Tables(s, dir, "events")
    def bucket(d: Int): Column =
      expr(s"cast(conv(substring(md5(concat('$d:', cast(user_id as string))), 1, 15), 16, 10) as bigint) % $width")
    val hashed = ev.select(col("user_id") +:
      (0 until depth).map(d => bucket(d).as(s"b$d")): _*)
    val sketch = (0 until depth).map { d =>
      hashed.groupBy(col(s"b$d").as("bucket")).agg(count(lit(1)).as("total"))
        .withColumn("d", lit(d))
    }.reduce(_.unionByName(_))
    val exact = ev.groupBy(col("user_id")).agg(count(lit(1)).as("exact"))
      .orderBy(col("exact").desc, col("user_id")).limit(20)
    val keyed = exact.select(col("user_id"), col("exact"),
      posexplode(array((0 until depth).map(bucket): _*)).as(Seq("d", "bucket")))
    keyed.join(sketch, Seq("d", "bucket"))
      .groupBy(col("user_id"), col("exact"))
      .agg(min(col("total")).as("cms_est"))
      .withColumn("overestimate", col("cms_est") - col("exact"))
      .orderBy(col("exact").desc, col("user_id"))
  }

  private val q18Sql = {
    val depth = 4
    val width = 256
    def bucket(d: Int, key: String) =
      s"CAST(('0x'||substr(md5('$d:' || CAST($key AS VARCHAR)), 1, 15)) AS BIGINT) % $width"
    val sketchArms = (0 until depth).map(d =>
      s"SELECT $d AS d, ${bucket(d, "user_id")} AS bucket, COUNT(*) AS total FROM events GROUP BY 2"
    ).mkString("\n  UNION ALL ")
    val keyArms = (0 until depth).map(d =>
      s"SELECT user_id, exact, $d AS d, ${bucket(d, "user_id")} AS bucket FROM exact"
    ).mkString("\n  UNION ALL ")
    s"""WITH sketch AS (
      |  $sketchArms),
      |exact AS (
      |  SELECT user_id, COUNT(*) AS exact FROM events GROUP BY 1
      |  ORDER BY exact DESC, user_id LIMIT 20),
      |keyed AS (
      |  $keyArms)
      |SELECT k.user_id, k.exact, MIN(s.total) AS cms_est,
      |  MIN(s.total) - k.exact AS overestimate
      |FROM keyed k JOIN sketch s ON k.d = s.d AND k.bucket = s.bucket
      |GROUP BY k.user_id, k.exact
      |ORDER BY k.exact DESC, k.user_id""".stripMargin
  }

  /** q19 — window FRAMES (q7 covers ranking): per-customer running
    * order total (rows unbounded-preceding..current, explicit so both
    * engines agree even under ties) and a 3-row moving average.
    * Decimal sums inside the frame keep the running float math exact;
    * the window partitions by customer (high-cardinality ⇒ parallel,
    * no skew). */
  private def q19(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val last3 = w.rowsBetween(-2, 0)
    Tables(s, dir, "orders")
      .select(col("o_custkey"), col("o_orderdate"), col("o_orderkey"),
        money(sum(dec(col("o_totalprice"))).over(run)).as("running_total"),
        round(sum(dec(col("o_totalprice"))).over(last3).cast("double") /
          count(lit(1)).over(last3), 6).as("ma3"))
      .orderBy(col("o_custkey"), col("o_orderdate"), col("o_orderkey"))
  }

  private val q19Sql =
    """SELECT o_custkey, o_orderdate, o_orderkey,
      |  CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER run, 2) AS DOUBLE)
      |    AS running_total,
      |  ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER last3 AS DOUBLE)
      |        / COUNT(*) OVER last3, 6) AS ma3
      |FROM orders
      |WINDOW run AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
      |       last3 AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |               ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
      |ORDER BY o_custkey, o_orderdate, o_orderkey""".stripMargin

  /** q20 — percentile profile with a sketch accuracy contract (the
    * q15 pattern applied to quantiles): per returnflag, the EXACT
    * discrete p50/p95 of `l_extendedprice` (value at rank ⌈p·n⌉ — an
    * actual element, bitwise identical in any engine, no
    * interpolation arithmetic), plus `est_ok` booleans asserting the
    * `percentile_approx` sketch landed within the ±2%-rank band
    * around each target. The sketch guarantees ≤0.1%-rank error at
    * accuracy=1000 for ANY merge order, so the boolean is stable
    * under Spark's nondeterministic partial-aggregation order even
    * though the raw estimate is not — which is exactly why the raw
    * estimate is not emitted (same reasoning as q15's HLL).
    *
    * Scale: the exact path is the shared SELECTION operator
    * ([[graft.operators.SelectionQuantile]], the q22 shape factored
    * round 16): one sortless histogram scan, driver prefix sums
    * locate the 6 target-rank buckets (p50/p95 plus the ±2%-rank band
    * edges), one window over only those buckets. Nothing sorts the
    * full table (the previous globalRank machinery still ranked every
    * row), nothing funnels a group through one reducer. The sketch
    * path is the one that survives corpus-sized groups (mergeable
    * partials, O(accuracy) memory), and the contract gate is how the
    * pipeline PROVES the cheap path tracks the exact one before
    * switching over.
    *
    * r19: the GK-sketch pass and the selection histogram pass are
    * independent full scans (the wanted ranks derive from the
    * per-group sizes, which the histogram itself carries), so their
    * driver actions run OVERLAPPED (guide §2.6) — two concurrent
    * scans + the located-bucket selection instead of three
    * sequential passes. Row-identical (interleaved A/B pre-check +
    * oracle re-gate at all three SFs); 1.373 → 1.228 s min (−11%)
    * on the order-fair interleaved A/B, 10 reps. */
  private def q20(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir, "lineitem")
      .select(col("l_returnflag").as("rf"), col("l_extendedprice").as("x"))
      .withColumn("bk", floor(col("x") / 1000).cast("long"))
    val skDf = t.groupBy(col("rf"))
      .agg(count(lit(1)).as("n"),
        percentile_approx(col("x"), lit(0.50), lit(1000)).as("a50"),
        percentile_approx(col("x"), lit(0.95), lit(1000)).as("a95"))
    import scala.concurrent.{Await, ExecutionContext, Future, blocking}
    import scala.concurrent.duration.Duration
    implicit val ec: ExecutionContext = ExecutionContext.global
    val skF = Future(blocking {
      skDf.collect().map(r => (r.getString(0), r.getLong(1),
        r.getDouble(2), r.getDouble(3))).toSeq.sortBy(_._1)
    })
    val histF = Future(blocking {
      t.groupBy(col("rf"), col("bk")).agg(count(lit(1)).as("__c"))
        .limit(graft.operators.SelectionQuantile.maxHistRows + 1)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
        .toSeq
    })
    val hist = Await.result(histF, Duration.Inf)
    val sk = Await.result(skF, Duration.Inf)
    import s.implicits._
    def tgt(n: Long, p: Double): Long = math.ceil(p * n).toLong
    def clmp(n: Long, r: Long): Long = math.max(1L, math.min(n, r))
    def ranks(n: Long): Seq[Long] = Seq(
      tgt(n, 0.50), tgt(n, 0.95),
      clmp(n, tgt(n, 0.48)), clmp(n, tgt(n, 0.52)),
      clmp(n, tgt(n, 0.93)), clmp(n, tgt(n, 0.97)))
    val (vals, _) = graft.operators.SelectionQuantile.valuesAtRanks(
      t, "rf", "x", "bk", ranks, histOpt = Some(hist))
    val valMap = vals.groupBy(col("rf"))
      .agg(map_from_entries(collect_list(struct(col("rn"), col("x")))).as("m"))
    def target(p: Double): Column = ceil(lit(p) * col("n")).cast("long")
    def clamp(c: Column): Column = greatest(lit(1L), least(col("n"), c))
    def at(r: Column): Column = element_at(col("m"), r)
    broadcast(sk.toDF("rf", "n", "a50", "a95")).join(valMap, Seq("rf"))
      .select(col("rf").as("l_returnflag"), col("n"),
        at(target(0.50)).as("p50"), at(target(0.95)).as("p95"),
        (col("a50") >= at(clamp(target(0.48))) &&
          col("a50") <= at(clamp(target(0.52)))).as("est50_ok"),
        (col("a95") >= at(clamp(target(0.93))) &&
          col("a95") <= at(clamp(target(0.97)))).as("est95_ok"))
      .orderBy(col("l_returnflag"))
  }

  private val q20Sql =
    """WITH r AS (
      |  SELECT l_returnflag AS rf, l_extendedprice AS x,
      |    ROW_NUMBER() OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice) AS rn,
      |    COUNT(*) OVER (PARTITION BY l_returnflag) AS n
      |  FROM lineitem)
      |SELECT rf AS l_returnflag, CAST(n AS BIGINT) AS n,
      |  MAX(CASE WHEN rn = CAST(ceil(0.50*n) AS BIGINT) THEN x END) AS p50,
      |  MAX(CASE WHEN rn = CAST(ceil(0.95*n) AS BIGINT) THEN x END) AS p95,
      |  TRUE AS est50_ok, TRUE AS est95_ok
      |FROM r GROUP BY rf, n ORDER BY rf""".stripMargin

  /** q21 — bloom-prefiltered semi join (the explicit form of Spark's
    * `InjectRuntimeFilter`): revenue per returnflag over lineitems
    * whose order is 1-URGENT. The urgent-order key set is sketched
    * into a bloom filter driver-side (`df.stat.bloomFilter` — a
    * treeAggregate of mergeable sketch partials over the SMALL side;
    * no rows are collected) and probed on the lineitem scan via the
    * native [[graft.functions.BloomMightContain]] expression, so
    * ~fpp + selectivity of the big side survives to the shuffle
    * instead of 100% of it. The exact left-semi join that follows
    * removes the sketch's false positives — the bloom changes where
    * rows die (map-side vs post-shuffle), never the result, which is
    * why the oracle is the plain semi join.
    *
    * Scale: this is THE pattern for selective fact⋈dim-subset joins
    * at 100 TB — the sketch is O(accuracy) bytes shipped once per
    * executor in the plan, and the big-side shuffle shrinks by the
    * join's selectivity (~20% here; often 100-1000× on real
    * predicates). The construction-time job is the standard
    * runtime-filter shape (a small-side-only aggregate, like DPP's
    * subquery broadcast). */
  private def q21(s: SparkSession, dir: String): DataFrame = {
    val urgent = Tables(s, dir, "orders")
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey"))
    val bloom = urgent.stat.bloomFilter("o_orderkey", 200000L, 0.01)
    val bos = new java.io.ByteArrayOutputStream()
    bloom.writeTo(bos)
    Tables(s, dir, "lineitem")
      .filter(call_function("graft_bloom_contains",
        lit(bos.toByteArray), col("l_orderkey")))
      .join(urgent.withColumnRenamed("o_orderkey", "l_orderkey"),
        Seq("l_orderkey"), "left_semi")
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_lines"),
        money(sum(dec(col("l_extendedprice")))).as("revenue"))
      .orderBy(col("l_returnflag"))
  }

  private val q21Sql =
    """SELECT l_returnflag, COUNT(*) AS n_lines,
      |  CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS revenue
      |FROM lineitem
      |WHERE l_orderkey IN (SELECT o_orderkey FROM orders
      |                     WHERE o_orderpriority = '1-URGENT')
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin

  /** q22 — approx-quantile accuracy contract: Spark's
    * `percentile_approx` (Greenwald-Khanna sketch — THE mergeable
    * one-pass quantile estimator a 100 TB profile job runs instead of
    * q12's exact sort-based percentile) audited against its own rank
    * guarantee: for accuracy parameter `acc`, SOME rank of the
    * returned value must sit within n/acc of p·n. A value occupies
    * the whole rank interval [count(x < a)+1, count(x <= a)] (ties
    * widen it), so the audit passes iff that interval INTERSECTS
    * [p·n − n/acc, p·n + n/acc] — checking only count(x <= a), the
    * interval's maximum, would flag a legitimate sketch answer as
    * broken whenever the returned value's duplicate group is wider
    * than the tolerance (price-grid columns at larger SFs). The q15
    * convention makes a sketch oracle-gateable: emit exact quantities
    * (count, exact interpolated percentiles) plus the contract
    * BOOLEANs; the engine-specific estimate itself is never emitted.
    *
    * Scale: the sketch pass is one partial+final agg (GK sketches
    * merge). The EXACT interpolated percentiles are never computed
    * via `percentile(x, p)` — Spark's exact percentile buffers every
    * group member in one aggregation buffer (O(n/#groups) memory on
    * 3 reducers, the classic low-cardinality funnel) — and not even
    * via a full global rank (q20's OffsetWindow machinery, which
    * still SORTS the whole table to rank rows nobody asks about).
    * A quantile is a SELECTION problem: quantile_cont's 0-based
    * target rank r = p·(n−1) needs only the values at 1-based ranks
    * ⌊r⌋+1 and ⌊r⌋+2. So: (1) one scan builds a per-(group, value-
    * bucket) histogram — map-side partials, no sort — FUSED with the
    * sketch's rank-audit counts; (2) the metadata-scale histogram
    * (~100 buckets × #groups) comes back to the driver, where prefix
    * sums locate which bucket holds each target rank — the same
    * driver-coordinated control plane as q21's bloom build and
    * Spark's own approxQuantile; (3) a second scan sorts ONLY the
    * located buckets (≈4 of ~100 per group) and picks the bracketed
    * values. Two full scans + one ~4%-of-rows window, zero full-table
    * sorts, O(#buckets) driver memory at any SF. */
  private def q22(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val acc = 1000
    val li = Tables(s, dir, "lineitem")
      .select(col("l_returnflag").as("rf"),
        col("l_extendedprice").cast("double").as("x"))
      .withColumn("bk", floor(col("x") / 1000).cast("long"))
    // Pass 1 — GK sketch + group sizes (mergeable partial+final agg),
    // #groups rows to the driver.
    val sk = li.groupBy(col("rf"))
      .agg(count(lit(1)).as("n"),
        expr(s"percentile_approx(x, array(0.5D, 0.9D), $acc)").as("ap"))
      .select(col("rf"), col("n"),
        col("ap").getItem(0).as("a50"), col("ap").getItem(1).as("a90"))
      .collect().map(r => (r.getString(0), r.getLong(1),
        r.getDouble(2), r.getDouble(3))).toSeq.sortBy(_._1)
    val skDf = broadcast(sk.toDF("rf", "n", "a50", "a90"))
    // Pass 2 — per-(group, bucket) histogram fused with the sketch's
    // rank-audit lt/le counts: one scan, no sort, metadata-scale out.
    val hist = li.join(skDf.select(col("rf"), col("a50"), col("a90")), Seq("rf"))
      .groupBy(col("rf"), col("bk"))
      .agg(count(lit(1)).as("c"),
        sum(when(col("x") < col("a50"), 1L).otherwise(0L)).as("lt50"),
        sum(when(col("x") <= col("a50"), 1L).otherwise(0L)).as("le50"),
        sum(when(col("x") < col("a90"), 1L).otherwise(0L)).as("lt90"),
        sum(when(col("x") <= col("a90"), 1L).otherwise(0L)).as("le90"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))
    // Driver control plane over the ~100·#groups-row histogram:
    // audit totals, bucket prefix sums, target-rank bucket location.
    val audit = hist.groupBy(_._1).map { case (rf, rows) =>
      rf -> (rows.map(_._4).sum, rows.map(_._5).sum,
        rows.map(_._6).sum, rows.map(_._7).sum)
    }
    def targetRanks(n: Long): Seq[Long] = Seq(0.5, 0.9).flatMap { p =>
      val r = p * (n - 1).toDouble
      val lo = math.floor(r).toLong + 1
      Seq(lo, math.min(lo + 1, n))
    }.distinct
    // Pass 3 — the shared selection operator (factored round 16):
    // driver prefix sums locate the target-rank buckets over the
    // FUSED histogram from pass 2, then one window over only those
    // buckets promotes local ranks to global and keeps the bracketed
    // values.
    val (vals, _) = graft.operators.SelectionQuantile.valuesAtRanks(
      li, "rf", "x", "bk", targetRanks,
      histOpt = Some(hist.map(t => (t._1, t._2, t._3)).toSeq))
    val valMap = vals.groupBy(col("rf"))
      .agg(map_from_entries(collect_list(struct(col("rn"), col("x")))).as("m"))
    // lower + (higher − lower)·frac — the same IEEE arithmetic as
    // Spark's Percentile and DuckDB's quantile_cont interpolation.
    def rd(p: Double): Column = lit(p) * (col("n") - 1).cast("double")
    def interp(p: Double): Column = {
      val lo = element_at(col("m"), floor(rd(p)).cast("long") + 1)
      val hi = element_at(col("m"),
        least(floor(rd(p)).cast("long") + 2, col("n")))
      fround(lo + (hi - lo) * (rd(p) - floor(rd(p))), 6)
    }
    def rankOk(lt: Column, le: Column, p: Double): Column = {
      val target = lit(p) * col("n")
      val tol = col("n") / acc + 1
      (lt + 1 <= target + tol) && (le >= target - tol)
    }
    val auditDf = broadcast(sk.map { case (rf, n, _, _) =>
      val (lt50, le50, lt90, le90) = audit(rf)
      (rf, n, lt50, le50, lt90, le90)
    }.toDF("rf", "n", "lt50", "le50", "lt90", "le90"))
    auditDf.join(valMap, Seq("rf"))
      .select(col("rf"), col("n"),
        interp(0.5).as("exact_p50"), interp(0.9).as("exact_p90"),
        rankOk(col("lt50"), col("le50"), 0.5).as("p50_ok"),
        rankOk(col("lt90"), col("le90"), 0.9).as("p90_ok"))
      .orderBy(col("rf"))
  }

  private val q22Sql =
    """SELECT l_returnflag AS rf, COUNT(*) AS n,
      |  FLOOR(quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.5) * 1e6 + 0.5) / 1e6 AS exact_p50,
      |  FLOOR(quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.9) * 1e6 + 0.5) / 1e6 AS exact_p90,
      |  TRUE AS p50_ok, TRUE AS p90_ok
      |FROM lineitem
      |GROUP BY l_returnflag
      |ORDER BY rf""".stripMargin

  /** q23 — KMV (k-minimum-values / bottom-k) distinct-count sketch,
    * built from first principles and audited against the exact count.
    * Unlike q15's HLL (whose register layout is engine-specific, so
    * only a contract boolean crosses engines), KMV is REPLAYABLE
    * cross-engine: both sides hash values with md5, keep the k
    * smallest 52-bit hash prefixes, and estimate
    * n ≈ (k−1) / u_k with u_k the kth minimum scaled to (0,1) — the
    * same IEEE ops on the same integers, so the ESTIMATE ITSELF is
    * hash-gated, not just a tolerance flag. 13 hex chars = 52 bits
    * keeps every hash exactly representable in a double (the TopKAgg
    * score), sidestepping 60-bit precision loss.
    *
    * Scale: the distinct projection is one partial+final hash agg;
    * the bottom-k runs in [[graft.functions.TopKAgg]] (O(k) buffer,
    * map-side partials — only k rows per group cross the shuffle),
    * NOT a rank window, which would sort every group member on 3
    * reducers. The exact count rides the same distinct frame — it is
    * the audit's inherent second cost, exactly q22's convention. */
  private def q23(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.udaf
    val k = 256
    val bottomk = udaf(new graft.functions.TopKAgg(k))
    // Hash AFTER the key-distinct, not before: the (rf, partkey)
    // distinct shuffles narrow longs with map-side combine, and the
    // md5/conv string kernels then run on ~10× fewer rows. A second
    // distinct on (rf, h) keeps the exact oracle semantics (DISTINCT
    // over hashes) in the 2^-52-probability event two partkeys share
    // a 52-bit prefix.
    val d = Tables(s, dir, "lineitem")
      .select(col("l_returnflag").as("rf"), col("l_partkey").as("pk"))
      .distinct()
      .select(col("rf"),
        conv(substring(md5(col("pk").cast("string")), 1, 13), 16, 10)
          .cast("long").as("h"))
      .distinct()
    val agg = d.groupBy(col("rf"))
      .agg(count(lit(1)).as("exact_distinct"),
        // top-k of −h = bottom-k of h; scores are exact (52-bit) doubles
        bottomk((-col("h")).cast("double"), col("h")).as("mins"))
    val hk = (-get(col("mins"), lit(k - 1)).getField("score")).as("hk")
    agg.select(col("rf"), col("exact_distinct"), hk)
      .withColumn("est",
        when(col("hk").isNull, col("exact_distinct").cast("double"))
          .otherwise(lit((k - 1).toDouble) /
            (col("hk") / lit(4503599627370496.0)))) // 2^52
      .select(col("rf"), col("exact_distinct"),
        fround(col("est"), 4).as("kmv_est"),
        (abs(col("est") - col("exact_distinct")) <=
          lit(0.2) * col("exact_distinct")).as("within_tol"))
      .orderBy(col("rf"))
  }

  private val q23Sql =
    """WITH d AS (SELECT DISTINCT l_returnflag AS rf,
      |    CAST(('0x' || substr(md5(CAST(l_partkey AS VARCHAR)), 1, 13)) AS BIGINT) AS h
      |  FROM lineitem),
      |r AS (SELECT rf, h, ROW_NUMBER() OVER (PARTITION BY rf ORDER BY h) AS rn FROM d),
      |kth AS (SELECT rf, MAX(h) AS hk, COUNT(*) AS kk FROM r WHERE rn <= 256 GROUP BY rf),
      |n AS (SELECT rf, COUNT(*) AS nd FROM d GROUP BY rf),
      |est AS (SELECT n.rf, n.nd,
      |  CASE WHEN kth.kk < 256 THEN CAST(kth.kk AS DOUBLE)
      |       ELSE CAST(255 AS DOUBLE) /
      |            (CAST(kth.hk AS DOUBLE) / CAST(4503599627370496 AS DOUBLE)) END AS e
      |  FROM n JOIN kth ON n.rf = kth.rf)
      |SELECT rf, nd AS exact_distinct, FLOOR(e * 1e4 + 0.5) / 1e4 AS kmv_est,
      |  ABS(e - nd) <= CAST(0.2 AS DOUBLE) * nd AS within_tol
      |FROM est ORDER BY rf""".stripMargin

  /** q24 — ranking-window breadth: ntile quartiles, percent_rank and
    * cume_dist per supplier price list (q7 covers rank/dense_rank;
    * q19/e17 cover running/sliding aggregates — this closes the
    * ranking-function family).
    *
    * Scale: partitions by supplier — fact-cardinality partition count
    * (never the 3-value returnflag funnel q20 replaced); the order
    * key ends with the unique (orderkey, linenumber) pair so every
    * rank function is total-order deterministic cross-engine. */
  private def q24(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("l_suppkey"))
      .orderBy(col("l_extendedprice"), col("l_orderkey"), col("l_linenumber"))
    Tables(s, dir, "lineitem")
      .filter(col("l_suppkey") < 20)
      // r18 correctness: rank ratios round via the s7 floor(x+0.5)
      // convention — cume_dist hit an exact binary halfway (41/640 =
      // 0.0640625) at sf0.001 where Spark's decimal-repr rounding and
      // DuckDB's double rounding disagree (0.064063 vs 0.064062)
      .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
        col("l_extendedprice").as("price"),
        ntile(4).over(w).as("quartile"),
        (floor(percent_rank().over(w) * 1e6 + 0.5) / 1e6).as("pct_rank"),
        (floor(cume_dist().over(w) * 1e6 + 0.5) / 1e6).as("cume"))
      .orderBy(col("l_suppkey"), col("price"), col("l_orderkey"),
        col("l_linenumber"))
  }

  private val q24Sql =
    """SELECT l_suppkey, l_orderkey, l_linenumber, l_extendedprice AS price,
      |  NTILE(4) OVER w AS quartile,
      |  FLOOR(PERCENT_RANK() OVER w * 1e6 + 0.5) / 1e6 AS pct_rank,
      |  FLOOR(CUME_DIST() OVER w * 1e6 + 0.5) / 1e6 AS cume
      |FROM lineitem
      |WHERE l_suppkey < 20
      |WINDOW w AS (PARTITION BY l_suppkey
      |             ORDER BY l_extendedprice, l_orderkey, l_linenumber)
      |ORDER BY l_suppkey, price, l_orderkey, l_linenumber""".stripMargin

  /** q25 — explicit GROUPING SETS (q9's rollup and q11's cube are the
    * closed forms; this is the general one — two single-column
    * slices plus the pair, with the grouping bitmask distinguishing
    * aggregation levels). One pass, Spark expands sets via Expand —
    * still partial+final aggregation, no extra scans. */
  private def q25(s: SparkSession, dir: String): DataFrame = {
    Tables(s, dir, "lineitem")
      .groupingSets(
        Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus")),
          Seq(col("l_returnflag"), col("l_linestatus"))),
        col("l_returnflag"), col("l_linestatus"))
      .agg((grouping(col("l_returnflag")) * 2 + grouping(col("l_linestatus")))
          .cast("long").as("gid"),
        count(lit(1)).as("n"),
        money(sum(dec(col("l_quantity")))).as("sum_qty"))
      .orderBy(col("gid"), col("l_returnflag"), col("l_linestatus"))
  }

  private val q25Sql =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS BIGINT) AS gid,
      |  COUNT(*) AS n,
      |  CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_qty
      |FROM lineitem
      |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus),
      |                        (l_returnflag, l_linestatus))
      |ORDER BY gid, l_returnflag, l_linestatus""".stripMargin

  /** q26 — unpivot/melt (e7's pivot inverse, the remaining reshape
    * op): lineitem's four measure columns stack into (measure, value)
    * rows, then roll up per (returnflag, measure). Spark's native
    * `unpivot` plans an Expand — one pass, partial+final agg, column
    * pruning still reaches the scan (only the 5 needed columns read). */
  private def q26(s: SparkSession, dir: String): DataFrame = {
    Tables(s, dir, "lineitem")
      .select(col("l_returnflag"), col("l_quantity"), col("l_extendedprice"),
        col("l_discount"), col("l_tax"))
      .unpivot(
        Array(col("l_returnflag")),
        Array(col("l_quantity"), col("l_extendedprice"),
          col("l_discount"), col("l_tax")),
        "measure", "x")
      .groupBy(col("l_returnflag"), col("measure"))
      .agg(count(lit(1)).as("n"),
        money(sum(dec(col("x")))).as("total"),
        money(min(dec(col("x")))).as("mn"),
        money(max(dec(col("x")))).as("mx"))
      .orderBy(col("l_returnflag"), col("measure"))
  }

  // r19 rejected experiment: folding the 4-way unpivot Expand into one
  // pass of per-column aggregates (12 aggs over the base rows, then
  // unpivoting the 3-row aggregate) measured FLAT-to-worse on the
  // order-fair interleaved A/B (1.079 → 1.141 s min, 10 reps, results
  // identical) — the scan task, not the Expand, is this query's wall
  // at sf0.1 (single-row-group input ⇒ one scan task), and the
  // per-row aggregate work is cast-bound either way. Kept the Expand
  // form: same bytes into the exchange, simpler plan.

  private val q26Sql =
    """SELECT l_returnflag, measure, COUNT(*) AS n,
      |  CAST(ROUND(SUM(CAST(x AS DECIMAL(18,2))), 2) AS DOUBLE) AS total,
      |  CAST(ROUND(MIN(CAST(x AS DECIMAL(18,2))), 2) AS DOUBLE) AS mn,
      |  CAST(ROUND(MAX(CAST(x AS DECIMAL(18,2))), 2) AS DOUBLE) AS mx
      |FROM (
      |  SELECT l_returnflag, 'l_quantity' AS measure, l_quantity AS x FROM lineitem
      |  UNION ALL
      |  SELECT l_returnflag, 'l_extendedprice', l_extendedprice FROM lineitem
      |  UNION ALL
      |  SELECT l_returnflag, 'l_discount', l_discount FROM lineitem
      |  UNION ALL
      |  SELECT l_returnflag, 'l_tax', l_tax FROM lineitem) u
      |GROUP BY l_returnflag, measure
      |ORDER BY l_returnflag, measure""".stripMargin

  /** q27 — MERGEABLE distinct sketches (the incremental form of
    * q15): one HLL sketch per (segment, order-month) partition, then
    * `hll_union_agg` folds the partition sketches into the segment
    * estimate — the pattern a 100 TB nightly pipeline runs (sketch
    * the new partition, merge with history; never re-scan closed
    * months). HLL registers are max-merged, so the merged estimate is
    * set-deterministic (order/partitioning independent) and the q15
    * audit convention applies: exact count + a contract boolean the
    * oracle asserts as TRUE. */
  private def q27(s: SparkSession, dir: String): DataFrame = {
    val monthly = Tables(s, dir, "orders")
      .join(Tables(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"),
        date_trunc("MONTH", col("o_orderdate")).cast("date").as("month"))
      .agg(expr("hll_sketch_agg(o_custkey)").as("sk"),
        count(lit(1)).as("n_orders"))
    val merged = monthly.groupBy(col("c_mktsegment"))
      .agg(expr("hll_sketch_estimate(hll_union_agg(sk))").as("est"),
        sum(col("n_orders")).as("n_orders"),
        count(lit(1)).as("n_partitions"))
    val exact = Tables(s, dir, "orders")
      .join(Tables(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(countDistinct(col("o_custkey")).as("exact_custs"))
    merged.join(exact, "c_mktsegment")
      .select(col("c_mktsegment"), col("n_partitions"), col("n_orders"),
        col("exact_custs"),
        (abs(col("est") - col("exact_custs")) <=
          lit(0.05) * col("exact_custs")).as("est_ok"))
      .orderBy(col("c_mktsegment"))
  }

  private val q27Sql =
    """SELECT c_mktsegment,
      |  COUNT(DISTINCT CAST(date_trunc('month', o_orderdate) AS DATE)) AS n_partitions,
      |  COUNT(*) AS n_orders,
      |  COUNT(DISTINCT o_custkey) AS exact_custs,
      |  TRUE AS est_ok
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY c_mktsegment
      |ORDER BY c_mktsegment""".stripMargin

  /** q28 — 2-D skyline (Pareto frontier): the parts no other part
    * beats on BOTH "cheapest observed sale" (min unit-price cents,
    * lower better) and "demand" (total quantity sold, higher better)
    * — the multi-objective shortlist query (best-value surface) that
    * a dominance filter answers where top-k by one score can't.
    * Dominance is strict-in-one: equal (price, qty) pairs co-exist on
    * the frontier.
    *
    * Scale: the classic sort-based 2-D skyline keeps a row iff its
    * qty strictly beats the running max over all rows before it in
    * (price asc, qty desc) order — but a single ordered scan is a
    * one-reducer funnel. This plan distributes it via
    * [[graft.operators.OffsetWindow.prefixMaxExcl]]: price-range
    * buckets give per-bucket local windows plus a broadcast
    * one-row-per-bucket offset frame (two fully parallel passes, the
    * q20/t14 shape). Identical (price, qty) pairs collapse first so
    * the exclusive prefix max can't drop a tied twin, and survivors
    * re-expand through a broadcast semi-join — frontier output is
    * tiny by construction. Both metrics are exact integers (decimal
    * sums, cents), so dominance never compares floats. */
  private def q28(s: SparkSession, dir: String): DataFrame = {
    val parts = Tables(s, dir, "lineitem")
      .groupBy(col("l_partkey").as("part"))
      .agg(sum(dec(col("l_quantity"))).cast("long").as("qty"),
        min(dec(col("l_extendedprice")) * 100).cast("long").as("price_cents"))
    // the member ids ride INSIDE the collapsed (price, qty) pair frame,
    // so the fact aggregate is scanned once and the frontier re-expands
    // with a per-row explode instead of a join back (ties stay bounded:
    // identical-metric parts are rare by construction of the metrics)
    val pairs = parts.groupBy(col("price_cents"), col("qty"))
      .agg(collect_list(col("part")).as("members"))
    graft.operators.OffsetWindow
      .prefixMaxExcl(pairs, Nil,
        bucket = expr("price_cents div 100000"),
        order = Seq(col("price_cents"), col("qty").desc),
        value = col("qty"), out = "pm")
      .filter(col("pm").isNull || col("qty") > col("pm"))
      .select(col("price_cents"), col("qty"),
        explode(col("members")).as("part"))
      .select(col("part"), col("price_cents"), col("qty"))
      .orderBy(col("price_cents"), col("qty"), col("part"))
  }

  private val q28Sql =
    """WITH p AS (
      |  SELECT l_partkey AS part,
      |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS BIGINT) AS qty,
      |    CAST(MIN(CAST(l_extendedprice AS DECIMAL(18,2)) * 100) AS BIGINT)
      |      AS price_cents
      |  FROM lineitem GROUP BY l_partkey)
      |SELECT part, price_cents, qty FROM p a
      |WHERE NOT EXISTS (
      |  SELECT 1 FROM p b
      |  WHERE b.price_cents <= a.price_cents AND b.qty >= a.qty
      |    AND (b.price_cents < a.price_cents OR b.qty > a.qty))
      |ORDER BY price_cents, qty, part""".stripMargin

  /** q29 — k-anonymity audit (k = 5) with a generalization ladder:
    * the privacy-governance pass a training-data release runs over
    * quasi-identifiers. Equivalence classes are
    * (nation, segment, account-balance bucket); any class smaller
    * than k re-identifies its members. The ladder re-audits under
    * coarser balance buckets ($1000 → $5000 → dropped) and reports
    * how the violating-class mass shrinks — the generalization-vs-
    * utility table an anonymization step is tuned on.
    *
    * Scale: one scan per ladder level, partial+final count aggs on
    * the quasi-identifier key; class frames are
    * cardinality-of-the-identifier-space sized, never row-sized; the
    * 1-row total broadcasts. All integer math (exact cents). */
  private def q29(s: SparkSession, dir: String): DataFrame = {
    val k = 5
    val c = Tables(s, dir, "customer")
      .withColumn("cents", (dec(col("c_acctbal")) * 100).cast("long"))
    val tot = c.agg(count(lit(1)).as("n_rows"))
    def level(lv: Int, bucket: Column): DataFrame =
      c.withColumn("bk", bucket)
        .groupBy(col("c_nationkey"), col("c_mktsegment"), col("bk"))
        .agg(count(lit(1)).as("sz"))
        .agg(count(lit(1)).as("n_classes"),
          sum(when(col("sz") < k, 1L).otherwise(0L)).as("n_violating"),
          sum(when(col("sz") < k, col("sz")).otherwise(0L)).as("rows_at_risk"))
        .select(lit(lv.toLong).as("level"), col("n_classes"),
          col("n_violating"), col("rows_at_risk"))
    level(0, expr("cents div 100000"))
      .unionByName(level(1, expr("cents div 500000")))
      .unionByName(level(2, lit(0L)))
      .crossJoin(broadcast(tot))
      .select(col("level"), col("n_classes"), col("n_violating"),
        col("rows_at_risk"),
        fround(col("rows_at_risk").cast("double") / col("n_rows"), 6)
          .as("risk_rate"))
      .orderBy(col("level"))
  }

  private val q29Sql = {
    def level(lv: Int, bucket: String) =
      s"""SELECT CAST($lv AS BIGINT) AS level, COUNT(*) AS n_classes,
        |  CAST(SUM(CASE WHEN sz < 5 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_violating,
        |  CAST(SUM(CASE WHEN sz < 5 THEN sz ELSE 0 END) AS BIGINT)
        |    AS rows_at_risk
        |FROM (SELECT COUNT(*) AS sz FROM c
        |      GROUP BY c_nationkey, c_mktsegment, $bucket) g$lv""".stripMargin
    s"""WITH c AS (
      |  SELECT c_nationkey, c_mktsegment,
      |    CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      |  FROM customer),
      |tot AS (SELECT COUNT(*) AS n_rows FROM c),
      |lv AS (
      |${level(0, "cents // 100000")}
      |UNION ALL
      |${level(1, "cents // 500000")}
      |UNION ALL
      |${level(2, "CAST(0 AS BIGINT)")})
      |SELECT level, n_classes, n_violating, rows_at_risk,
      |  FLOOR(CAST(rows_at_risk AS DOUBLE) / n_rows * 1e6 + 0.5) / 1e6 AS risk_rate
      |FROM lv, tot ORDER BY level""".stripMargin
  }

  /** q30 — data-quality expectation suite: the contract checks an
    * ingestion gate runs before a table version is published
    * (null-rate ceilings, domain ranges, key uniqueness, referential
    * integrity) — one row per expectation with its observed metric
    * and verdict. The table-stakes governance operator next to q29's
    * anonymity audit; at 100 TB this IS the publish gate, so every
    * check must stay one scan or one keyed anti-join.
    *
    * Scale: the lineitem checks share a single scan (one aggregate
    * computes all counters); uniqueness is a two-level agg on the
    * key; the orphan check is a broadcast-able anti-join keyed on
    * custkey. Exact integer/decimal math throughout — `rate` is the
    * only double, derived from exact counts. */
  private def q30(s: SparkSession, dir: String): DataFrame = {
    val li = Tables(s, dir, "lineitem")
    val base = li.agg(
      count(lit(1)).as("n_rows"), // in-plan rate denominator, no action
      sum(when(col("l_orderkey").isNull, 1L).otherwise(0L)).as("null_ok"),
      sum(when(col("l_quantity") < 1 || col("l_quantity") > 50, 1L)
        .otherwise(0L)).as("qty_range"),
      sum(when(col("l_discount") < 0 || col("l_discount") > 0.1, 1L)
        .otherwise(0L)).as("disc_range"),
      sum(when(col("l_shipdate").isNull, 1L).otherwise(0L)).as("null_ship"))
    val dupKeys = li.groupBy(col("l_orderkey"), col("l_linenumber"))
      .agg(count(lit(1)).as("n")).filter(col("n") > 1)
      .agg(coalesce(sum(col("n")), lit(0L)).as("dup_rows"))
    val orphans = Tables(s, dir, "orders")
      .join(Tables(s, dir, "customer"),
        col("o_custkey") === col("c_custkey"), "left_anti")
      .agg(count(lit(1)).as("orphan_orders"))
    def check(name: String, failing: Column): Column =
      struct(lit(name).as("expectation"), failing.as("failing_rows"))
    base.crossJoin(broadcast(dupKeys)).crossJoin(broadcast(orphans))
      .select(col("n_rows"), explode(array(
        check("lineitem.l_orderkey not null", col("null_ok")),
        check("lineitem.l_quantity in [1, 50]", col("qty_range")),
        check("lineitem.l_discount in [0, 0.1]", col("disc_range")),
        check("lineitem.l_shipdate not null", col("null_ship")),
        check("lineitem (l_orderkey, l_linenumber) unique", col("dup_rows")),
        check("orders.o_custkey references customer", col("orphan_orders"))))
        .as("c"))
      .select(col("c.expectation").as("expectation"),
        col("c.failing_rows").as("failing_rows"),
        fround(col("c.failing_rows").cast("double") / col("n_rows"), 6)
          .as("rate"),
        (col("c.failing_rows") === 0).as("pass"))
      .orderBy(col("expectation"))
  }

  private val q30Sql =
    """WITH tot AS (SELECT COUNT(*) AS n FROM lineitem),
      |base AS (
      |  SELECT
      |    CAST(SUM(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      |      AS null_ok,
      |    CAST(SUM(CASE WHEN l_quantity < 1 OR l_quantity > 50 THEN 1 ELSE 0 END)
      |      AS BIGINT) AS qty_range,
      |    CAST(SUM(CASE WHEN l_discount < 0 OR l_discount > 0.1 THEN 1 ELSE 0 END)
      |      AS BIGINT) AS disc_range,
      |    CAST(SUM(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      |      AS null_ship
      |  FROM lineitem),
      |dup AS (
      |  SELECT CAST(COALESCE(SUM(n), 0) AS BIGINT) AS dup_rows FROM (
      |    SELECT COUNT(*) AS n FROM lineitem
      |    GROUP BY l_orderkey, l_linenumber HAVING COUNT(*) > 1) g),
      |orph AS (
      |  SELECT COUNT(*) AS orphan_orders FROM orders
      |  WHERE NOT EXISTS (SELECT 1 FROM customer WHERE c_custkey = o_custkey)),
      |checks AS (
      |  SELECT 'lineitem.l_orderkey not null' AS expectation,
      |         null_ok AS failing_rows FROM base
      |  UNION ALL
      |  SELECT 'lineitem.l_quantity in [1, 50]', qty_range FROM base
      |  UNION ALL
      |  SELECT 'lineitem.l_discount in [0, 0.1]', disc_range FROM base
      |  UNION ALL
      |  SELECT 'lineitem.l_shipdate not null', null_ship FROM base
      |  UNION ALL
      |  SELECT 'lineitem (l_orderkey, l_linenumber) unique', dup_rows FROM dup
      |  UNION ALL
      |  SELECT 'orders.o_custkey references customer', orphan_orders FROM orph)
      |SELECT expectation, failing_rows,
      |  FLOOR(CAST(failing_rows AS DOUBLE) / tot.n * 1e6 + 0.5) / 1e6 AS rate,
      |  failing_rows = 0 AS pass
      |FROM checks, tot
      |ORDER BY expectation""".stripMargin

  /** q31 — incremental JOIN maintenance: the delta-join identity
    * `Δ(A ⋈ B) = ΔA⋈B₀ ∪ A₀⋈ΔB ∪ ΔA⋈ΔB` applied to the
    * orders⋈lineitem revenue view, with both inputs split at a date
    * cut into (history, delta). The maintained view — history-join
    * plus the three delta terms — is hash-gated against the oracle's
    * FULL recompute, so the IVM law is checked, not asserted. The
    * third leg of the library's incremental-maintenance story next to
    * e23 (aggregates) and d20 (clusters).
    *
    * Scale: this is the nightly view-refresh flow — the three delta
    * terms are delta-sized on at least one side (ΔA⋈ΔB on both);
    * only A₀⋈ΔB and ΔA⋈B₀ touch history, and each is a keyed join
    * a delta-side broadcast or shuffle-hash handles. The full re-join
    * exists only as the audit. */
  private def q31(s: SparkSession, dir: String): DataFrame = {
    val cut = lit("1997-06-01").cast("timestamp")
    val o = Tables(s, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
    val li = Tables(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_shipdate"),
        (dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount"))))
          .as("rev"))
    val (o0, dO) = (o.filter(col("o_orderdate") < cut),
      o.filter(col("o_orderdate") >= cut))
    val (l0, dL) = (li.filter(col("l_shipdate") < cut),
      li.filter(col("l_shipdate") >= cut))
    def part(a: DataFrame, b: DataFrame): DataFrame =
      a.join(b, col("o_orderkey") === col("l_orderkey"))
    val view = part(o0, l0)
      .unionByName(part(dO, l0))
      .unionByName(part(o0, dL))
      .unionByName(part(dO, dL))
    view.groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_items"), money(sum(col("rev"))).as("revenue"))
      .filter(col("n_items") >= 20)
      .orderBy(col("o_custkey"))
  }

  private val q31Sql =
    """SELECT o_custkey, COUNT(*) AS n_items,
      |  CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
      |       (1 - CAST(l_discount AS DECIMAL(18,2)))), 2) AS DOUBLE) AS revenue
      |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      |GROUP BY o_custkey HAVING COUNT(*) >= 20
      |ORDER BY o_custkey""".stripMargin

  /** q32 — distributed OLS by sufficient statistics: per returnflag,
    * regress extendedprice on quantity from the five exact sums
    * (n, Σx, Σy, Σxy, Σx², Σy²) accumulated as DECIMALs in ONE
    * partial+final hash agg, then solved in closed form on the
    * per-group row. This is the canonical distributed-ML shape —
    * the model fit is an O(1)-state aggregation, never an iterative
    * pass; the same pattern carries any GLM-by-Newton step or a
    * full Gram matrix (X'X) for multivariate ridge.
    *
    * Float determinism: all sums are exact decimal arithmetic
    * (recipe #14 — derive floats from exact sums); the closed-form
    * algebra then runs the same IEEE double ops on both engines.
    * DECIMAL(38,4) product sums hold to ~10^33 — petabyte-scale
    * group sizes before precision management is needed.
    *
    * Scale: one scan, map-side combine, 3 group rows out; nothing
    * else moves. */
  private def q32(s: SparkSession, dir: String): DataFrame = {
    val li = Tables(s, dir, "lineitem")
      .select(col("l_returnflag").as("rf"),
        dec(col("l_quantity")).as("x"), dec(col("l_extendedprice")).as("y"))
    val stats = li.groupBy(col("rf")).agg(
      count(lit(1)).as("n"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(col("x") * col("y")).as("sxy"),
      sum(col("x") * col("x")).as("sxx"),
      sum(col("y") * col("y")).as("syy"))
    val n = col("n").cast("double")
    def d(c: String) = col(c).cast("double")
    val covN  = n * d("sxy") - d("sx") * d("sy")
    val varxN = n * d("sxx") - d("sx") * d("sx")
    val varyN = n * d("syy") - d("sy") * d("sy")
    stats
      .withColumn("slope", covN / varxN)
      .withColumn("intercept", (d("sy") - col("slope") * d("sx")) / n)
      .withColumn("r2", covN * covN / (varxN * varyN))
      .select(col("rf"), col("n"), fround(col("slope"), 6).as("slope"),
        fround(col("intercept"), 6).as("intercept"),
        fround(col("r2"), 6).as("r2"))
      .orderBy(col("rf"))
  }

  private val q32Sql =
    """WITH stats AS (
      |  SELECT l_returnflag AS rf, COUNT(*) AS n,
      |    SUM(CAST(l_quantity AS DECIMAL(18,2))) AS sx,
      |    SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS sy,
      |    SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS sxy,
      |    SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS sxx,
      |    SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS syy
      |  FROM lineitem GROUP BY 1),
      |solved AS (
      |  SELECT rf, n,
      |    (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
      |      / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS slope,
      |    CAST(sx AS DOUBLE) AS dsx, CAST(sy AS DOUBLE) AS dsy,
      |    (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) AS covn,
      |    (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS varxn,
      |    (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) AS varyn
      |  FROM stats)
      |SELECT rf, n, FLOOR(slope * 1e6 + 0.5) / 1e6 AS slope,
      |  FLOOR((dsy - slope * dsx) / CAST(n AS DOUBLE) * 1e6 + 0.5) / 1e6 AS intercept,
      |  FLOOR(covn * covn / (varxn * varyn) * 1e6 + 0.5) / 1e6 AS r2
      |FROM solved ORDER BY rf""".stripMargin

  /** q33 — zone-map data-skipping audit: quantifies what parquet
    * row-group min/max pruning buys a range predicate under two
    * physical layouts of the SAME table. `raw` zones chunk the
    * natural insertion order (l_orderkey ranges — shipdate is
    * uncorrelated with it, so every zone's [min,max] straddles the
    * predicate and nothing prunes); `sorted` zones chunk the
    * shipdate-sorted order (zones tile the time axis disjointly, so
    * only the zones overlapping the quarter are read). Output: one
    * row per layout with zones/rows scanned vs matched, and `sound`
    * — no matching row lives in a pruned zone — which makes the
    * pruning LAW hash-gated, not asserted. This is the CorpusLayout
    * write-side story measured from the read side: sort your layout
    * or your zone maps are decorative.
    *
    * Scale: zone stats are one partial+final agg per layout. The
    * sorted rank comes from [[graft.operators.OffsetWindow]] (month
    * buckets + broadcast offsets, two fully parallel passes) — never
    * an unpartitioned window. At 100 TB "zones" are parquet row
    * groups/files and the stats live in the footer; the audit's
    * economics are identical. */
  private def q33(s: SparkSession, dir: String): DataFrame = {
    val zoneRows = 4096L
    val lo = lit("1995-01-01").cast("timestamp")
    val hi = lit("1995-03-31").cast("timestamp")
    val li = Tables(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"), col("l_shipdate"))
    val matched = col("l_shipdate").between(lo, hi)

    def audit(zoned: DataFrame, layout: String): DataFrame = {
      val z = zoned.groupBy(col("zone")).agg(
        count(lit(1)).as("n"),
        sum(when(matched, 1L).otherwise(0L)).as("n_match"),
        min(col("l_shipdate")).as("mn"), max(col("l_shipdate")).as("mx"))
      val scanned = col("mn") <= hi && col("mx") >= lo
      z.agg(
        count(lit(1)).as("zones_total"),
        sum(when(scanned, 1L).otherwise(0L)).as("zones_scanned"),
        sum(when(scanned, col("n")).otherwise(0L)).as("rows_scanned"),
        sum(col("n_match")).as("rows_matched"),
        max(when(!scanned && col("n_match") > 0, 1L).otherwise(0L)).as("leaks"))
        .select(lit(layout).as("layout"), col("zones_total"),
          col("zones_scanned"), col("rows_scanned"), col("rows_matched"),
          (col("leaks") === 0L).as("sound"))
    }

    // ~4 lines per order → 1024-order chunks hold ~zoneRows rows, so
    // the two layouts differ only in ORDER, not zone granularity
    val raw = audit(li.withColumn("zone", floor(col("l_orderkey") / (zoneRows / 4))), "raw")
    val ranked = graft.operators.OffsetWindow.globalRank(
      li, Nil, date_trunc("month", col("l_shipdate")),
      Seq(col("l_shipdate"), col("l_orderkey"), col("l_linenumber")), "rk")
    val sorted = audit(ranked.withColumn("zone", floor((col("rk") - 1) / zoneRows)), "sorted")
    raw.unionByName(sorted).orderBy(col("layout"))
  }

  private val q33Sql =
    """WITH li AS (SELECT l_orderkey, l_linenumber, l_shipdate,
      |    l_shipdate BETWEEN TIMESTAMP '1995-01-01' AND TIMESTAMP '1995-03-31' AS m
      |  FROM lineitem),
      |zr AS (SELECT l_orderkey // 1024 AS zone, COUNT(*) AS n,
      |    SUM(CASE WHEN m THEN 1 ELSE 0 END) AS n_match,
      |    MIN(l_shipdate) AS mn, MAX(l_shipdate) AS mx FROM li GROUP BY 1),
      |zs AS (SELECT (ROW_NUMBER() OVER (ORDER BY l_shipdate, l_orderkey, l_linenumber) - 1) // 4096 AS zone,
      |    m, l_shipdate FROM li),
      |zsg AS (SELECT zone, COUNT(*) AS n, SUM(CASE WHEN m THEN 1 ELSE 0 END) AS n_match,
      |    MIN(l_shipdate) AS mn, MAX(l_shipdate) AS mx FROM zs GROUP BY 1),
      |a AS (
      |  SELECT 'raw' AS layout, CAST(COUNT(*) AS BIGINT) AS zones_total,
      |    CAST(SUM(CASE WHEN mn <= TIMESTAMP '1995-03-31' AND mx >= TIMESTAMP '1995-01-01' THEN 1 ELSE 0 END) AS BIGINT) AS zones_scanned,
      |    CAST(SUM(CASE WHEN mn <= TIMESTAMP '1995-03-31' AND mx >= TIMESTAMP '1995-01-01' THEN n ELSE 0 END) AS BIGINT) AS rows_scanned,
      |    CAST(SUM(n_match) AS BIGINT) AS rows_matched,
      |    MAX(CASE WHEN NOT (mn <= TIMESTAMP '1995-03-31' AND mx >= TIMESTAMP '1995-01-01') AND n_match > 0 THEN 1 ELSE 0 END) = 0 AS sound
      |  FROM zr
      |  UNION ALL
      |  SELECT 'sorted', CAST(COUNT(*) AS BIGINT),
      |    CAST(SUM(CASE WHEN mn <= TIMESTAMP '1995-03-31' AND mx >= TIMESTAMP '1995-01-01' THEN 1 ELSE 0 END) AS BIGINT),
      |    CAST(SUM(CASE WHEN mn <= TIMESTAMP '1995-03-31' AND mx >= TIMESTAMP '1995-01-01' THEN n ELSE 0 END) AS BIGINT),
      |    CAST(SUM(n_match) AS BIGINT),
      |    MAX(CASE WHEN NOT (mn <= TIMESTAMP '1995-03-31' AND mx >= TIMESTAMP '1995-01-01') AND n_match > 0 THEN 1 ELSE 0 END) = 0
      |  FROM zsg)
      |SELECT * FROM a ORDER BY layout""".stripMargin

  /** q34 — KMV sketch SET ALGEBRA: estimate |A∪B|, Jaccard and
    * |A∩B| of two customer cohorts (custkeys ordering in 1995 vs
    * 1996) from ONE bottom-k sketch of the union, carrying per-hash
    * membership flags — the mergeable-sketch identity
    * J ≈ |{bottom-k(A∪B)} ∩ A ∩ B| / k, |A∩B| ≈ J · (k−1)/u_k
    * (Beyer et al., "On Synopses for Distinct-Value Estimation Under
    * Multiset Operations"). Like q23, KMV is REPLAYABLE cross-engine
    * (same md5 52-bit hashes, same bottom-k, same IEEE ratio), so
    * the ESTIMATES are hash-gated, not just tolerance flags; exact
    * values and a tolerance boolean ride along (q22's convention).
    * When the union has < k distinct hashes the sketch IS the set
    * and every estimate collapses to exact (both engines take the
    * same branch).
    *
    * Scale: membership flags are one hash agg on h; the global
    * bottom-k is `orderBy(h).limit(k)` = TakeOrderedAndProject —
    * per-partition top-k then a k·partitions driver merge, never a
    * global sort. Sketches this shape union/intersect across ANY
    * number of cohorts with k rows shipped per cohort. */
  private def q34(s: SparkSession, dir: String): DataFrame = {
    val k = 256
    def cohort(yr: Int, ia: Int, ib: Int): DataFrame =
      Tables(s, dir, "orders")
        .filter(col("o_orderdate") >= lit(s"$yr-01-01").cast("timestamp") &&
          col("o_orderdate") < lit(s"${yr + 1}-01-01").cast("timestamp"))
        .select(col("o_custkey")).distinct()
        .select(conv(substring(md5(col("o_custkey").cast("string")), 1, 13),
          16, 10).cast("long").as("h"),
          lit(ia).as("ia"), lit(ib).as("ib"))
    val m = cohort(1995, 1, 0).unionByName(cohort(1996, 0, 1))
      .groupBy(col("h"))
      .agg(max(col("ia")).as("ia"), max(col("ib")).as("ib"))
    val exact = m.agg(
      sum(col("ia")).as("na"), sum(col("ib")).as("nb"),
      count(lit(1)).as("nu"),
      sum(col("ia") * col("ib")).as("ni"))
    val mins = m.orderBy(col("h")).limit(k)
      .agg(count(lit(1)).as("kk"), max(col("h")).as("hk"),
        sum(col("ia") * col("ib")).as("ni_k"))
    val unionEst = when(col("kk") < k, col("kk").cast("double"))
      .otherwise(lit((k - 1).toDouble) /
        (col("hk").cast("double") / lit(4503599627370496.0))) // 2^52
    val jacEst = col("ni_k").cast("double") / col("kk").cast("double")
    exact.crossJoin(broadcast(mins))
      .withColumn("union_est", unionEst)
      .withColumn("jaccard_est", jacEst)
      .select(col("na"), col("nb"), col("nu"), col("ni"),
        fround(col("ni").cast("double") / col("nu").cast("double"), 6)
          .as("jaccard_exact"),
        fround(col("union_est"), 4).as("union_est"),
        fround(col("jaccard_est"), 6).as("jaccard_est"),
        fround(col("jaccard_est") * col("union_est"), 4).as("intersect_est"),
        (abs(col("jaccard_est") * col("union_est") - col("ni").cast("double"))
          <= lit(0.3) * col("ni").cast("double")).as("within_tol"))
  }

  private val q34Sql =
    """WITH a AS (SELECT DISTINCT o_custkey FROM orders
      |  WHERE o_orderdate >= TIMESTAMP '1995-01-01' AND o_orderdate < TIMESTAMP '1996-01-01'),
      |b AS (SELECT DISTINCT o_custkey FROM orders
      |  WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'),
      |m AS (SELECT h, MAX(ia) AS ia, MAX(ib) AS ib FROM (
      |    SELECT CAST(('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 13)) AS BIGINT) AS h,
      |      1 AS ia, 0 AS ib FROM a
      |    UNION ALL
      |    SELECT CAST(('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 13)) AS BIGINT),
      |      0, 1 FROM b) u GROUP BY h),
      |exact AS (SELECT CAST(SUM(ia) AS BIGINT) AS na, CAST(SUM(ib) AS BIGINT) AS nb,
      |    COUNT(*) AS nu, CAST(SUM(ia * ib) AS BIGINT) AS ni FROM m),
      |mins AS (SELECT COUNT(*) AS kk, MAX(h) AS hk, CAST(SUM(ia * ib) AS BIGINT) AS ni_k
      |  FROM (SELECT * FROM m ORDER BY h LIMIT 256) t),
      |est AS (SELECT exact.*, mins.*,
      |    CASE WHEN kk < 256 THEN CAST(kk AS DOUBLE)
      |         ELSE CAST(255 AS DOUBLE) / (CAST(hk AS DOUBLE) / CAST(4503599627370496 AS DOUBLE))
      |    END AS union_est,
      |    CAST(ni_k AS DOUBLE) / CAST(kk AS DOUBLE) AS jaccard_est
      |  FROM exact, mins)
      |SELECT na, nb, nu, ni,
      |  FLOOR(CAST(ni AS DOUBLE) / CAST(nu AS DOUBLE) * 1e6 + 0.5) / 1e6 AS jaccard_exact,
      |  FLOOR(union_est * 1e4 + 0.5) / 1e4 AS union_est,
      |  FLOOR(jaccard_est * 1e6 + 0.5) / 1e6 AS jaccard_est,
      |  FLOOR(jaccard_est * union_est * 1e4 + 0.5) / 1e4 AS intersect_est,
      |  ABS(jaccard_est * union_est - CAST(ni AS DOUBLE))
      |    <= CAST(0.3 AS DOUBLE) * CAST(ni AS DOUBLE) AS within_tol
      |FROM est""".stripMargin

  /** q35 — snapshot diff (the dataset-versioning primitive): the
    * same derived view — per-order item count + revenue over a
    * half-year activity window — materialized at two window
    * positions, then diffed by key into added / removed / changed /
    * same, with net deltas per status. `changed` compares the EXACT
    * decimal revenue (no float equality), and the whole
    * status × counts × deltas table is hash-gated, so the diff law
    * (every key lands in exactly one status, deltas reconcile) is
    * checked, not asserted. This is how a 100 TB pipeline audits a
    * rebuilt table against yesterday's: diff the snapshots, not the
    * inputs.
    *
    * Scale: one full-outer join on the view key + a 4-group rollup.
    * Both sides are the SAME aggregation shape, so at scale they
    * arrive identically partitioned (or bucketed by CorpusLayout)
    * and the join is co-located — the diff costs one pass over the
    * larger snapshot. */
  private def q35(s: SparkSession, dir: String): DataFrame = {
    def view(lo: String, hi: String): DataFrame =
      Tables(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit(lo).cast("timestamp") &&
          col("l_shipdate") < lit(hi).cast("timestamp"))
        .groupBy(col("l_orderkey"))
        .agg(count(lit(1)).as("n_items"),
          sum(dec(col("l_extendedprice"))).as("rev"))
    val v1 = view("1996-07-01", "1997-01-01")
      .select(col("l_orderkey"), col("n_items").as("n1"), col("rev").as("r1"))
    val v2 = view("1997-01-01", "1997-07-01")
      .select(col("l_orderkey"), col("n_items").as("n2"), col("rev").as("r2"))
    v1.join(v2, Seq("l_orderkey"), "full_outer")
      .withColumn("status",
        when(col("n1").isNull, "added")
          .when(col("n2").isNull, "removed")
          .when(col("n1") =!= col("n2") || col("r1") =!= col("r2"), "changed")
          .otherwise("same"))
      .groupBy(col("status"))
      .agg(count(lit(1)).as("n_orders"),
        sum(coalesce(col("n2"), lit(0L)) - coalesce(col("n1"), lit(0L)))
          .as("net_items_delta"),
        money(sum(coalesce(col("r2"), lit(0).cast("decimal(18,2)")) -
          coalesce(col("r1"), lit(0).cast("decimal(18,2)"))))
          .as("net_revenue_delta"))
      .orderBy(col("status"))
  }

  private val q35Sql =
    """WITH v1 AS (
      |  SELECT l_orderkey, COUNT(*) AS n1,
      |    SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS r1
      |  FROM lineitem WHERE l_shipdate >= TIMESTAMP '1996-07-01'
      |    AND l_shipdate < TIMESTAMP '1997-01-01' GROUP BY 1),
      |v2 AS (
      |  SELECT l_orderkey, COUNT(*) AS n2,
      |    SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS r2
      |  FROM lineitem WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      |    AND l_shipdate < TIMESTAMP '1997-07-01' GROUP BY 1),
      |d AS (
      |  SELECT CASE WHEN n1 IS NULL THEN 'added'
      |    WHEN n2 IS NULL THEN 'removed'
      |    WHEN n1 <> n2 OR r1 <> r2 THEN 'changed'
      |    ELSE 'same' END AS status, n1, n2, r1, r2
      |  FROM v1 FULL OUTER JOIN v2 USING (l_orderkey))
      |SELECT status, COUNT(*) AS n_orders,
      |  CAST(SUM(COALESCE(n2, 0) - COALESCE(n1, 0)) AS BIGINT) AS net_items_delta,
      |  CAST(ROUND(SUM(COALESCE(r2, CAST(0 AS DECIMAL(18,2)))
      |    - COALESCE(r1, CAST(0 AS DECIMAL(18,2)))), 2) AS DOUBLE) AS net_revenue_delta
      |FROM d GROUP BY status ORDER BY status""".stripMargin

  /** q36 — two-pass equi-width histogram of `l_extendedprice` (20
    * buckets): pass 1 computes exact decimal min/max (order-free,
    * broadcast as one row), pass 2 buckets map-side and aggregates
    * count + exact decimal mass per bucket — the profiling primitive
    * behind every column-statistics page and optimizer NDV/range
    * estimate. At 100 TB: two scans, no shuffle beyond a 20-row
    * partial+final agg; the alternative single-pass streaming
    * histogram trades exact edges for one scan — this is the exact
    * variant (the zone-map audit q33 covers the skipping side).
    *
    * Determinism: bucket ids and edges derive from the exact decimal
    * min/max through the IDENTICAL IEEE double sequence in both
    * engines (`(x−mn)/(mx−mn)·20`, floored, clamped to 19 so x = max
    * lands in the last bucket); sums are exact decimals rounded at
    * the end (the pack's money convention). */
  private def q36(s: SparkSession, dir: String): DataFrame = {
    val li = Tables(s, dir, "lineitem")
      .select(dec(col("l_extendedprice")).as("p"))
    val mm = li.agg(min(col("p")).as("mn"), max(col("p")).as("mx"))
    li.crossJoin(broadcast(mm))
      .select(col("p"), col("p").cast("double").as("x"),
        col("mn").cast("double").as("mnd"), col("mx").cast("double").as("mxd"))
      .withColumn("bucket",
        least(floor((col("x") - col("mnd")) / (col("mxd") - col("mnd"))
          * lit(20)), lit(19L)).cast("long"))
      .groupBy(col("bucket"), col("mnd"), col("mxd"))
      .agg(count(lit(1)).as("n"), sum(col("p")).as("sump"))
      .select(col("bucket"),
        fround(col("mnd") + col("bucket") * ((col("mxd") - col("mnd")) / lit(20)), 2)
          .as("lo"),
        fround(col("mnd") + (col("bucket") + lit(1L)) * ((col("mxd") - col("mnd")) / lit(20)), 2)
          .as("hi"),
        col("n"), money(col("sump")).as("sum_price"))
      .orderBy(col("bucket"))
  }

  private val q36Sql =
    """WITH p AS (SELECT CAST(l_extendedprice AS DECIMAL(18,2)) AS p FROM lineitem),
      |mm AS (SELECT MIN(p) AS mn, MAX(p) AS mx FROM p),
      |b AS (SELECT p, CAST(p AS DOUBLE) AS x,
      |        CAST(mn AS DOUBLE) AS mnd, CAST(mx AS DOUBLE) AS mxd
      |      FROM p, mm),
      |h AS (SELECT CAST(LEAST(FLOOR((x - mnd) / (mxd - mnd) * 20), 19) AS BIGINT)
      |        AS bucket, p, mnd, mxd FROM b)
      |SELECT bucket,
      |  FLOOR((mnd + bucket * ((mxd - mnd) / 20)) * 1e2 + 0.5) / 1e2 AS lo,
      |  FLOOR((mnd + (bucket + 1) * ((mxd - mnd) / 20)) * 1e2 + 0.5) / 1e2 AS hi,
      |  COUNT(*) AS n,
      |  CAST(ROUND(SUM(p), 2) AS DOUBLE) AS sum_price
      |FROM h
      |GROUP BY bucket, mnd, mxd
      |ORDER BY bucket""".stripMargin

  /** q37 — incremental view maintenance WITH DELETIONS (retractable
    * IVM): q31 proves the insert-only delta-join identity; this is
    * the harder leg a real snapshot pipeline needs when a batch
    * carries retractions (CDC deletes, right-to-be-forgotten purges,
    * late dedup). Simulated from lineitem: base = orderkey%10≠0,
    * insert delta = orderkey%10=0, delete delta = base rows with
    * orderkey%7=0. The maintained per-group aggregate is computed
    * from base aggregates ± delta aggregates ONLY:
    *
    *  - count/sum retract additively (exact DECIMAL arithmetic, so
    *    base−del+ins is bit-equal to a recompute);
    *  - MIN is NOT retractable — a group whose current minimum was
    *    deleted cannot be repaired from aggregates. Affected groups
    *    (del_min = base_min) re-derive min from the new state
    *    restricted to those groups (a semi-join-pruned scan — at
    *    100 TB the affected set is the delete keys, not the corpus);
    *    unaffected groups take least(base_min, ins_min) untouched.
    *
    * The driver's oracle recomputes the view DIRECTLY from the final
    * state — the hash equality IS the maintenance-identity proof
    * (the q31 convention). Groups emptied by deletion are dropped,
    * as a recompute would. */
  private def q37(s: SparkSession, dir: String): DataFrame = {
    val rows = Tables(s, dir, "lineitem")
      .select((col("l_suppkey") % 500).as("grp"), col("l_orderkey").as("ok"),
        dec(col("l_quantity")).as("qty"), dec(col("l_extendedprice")).as("price"))
    val base = rows.filter(col("ok") % 10 =!= 0)
    val ins = rows.filter(col("ok") % 10 === 0)
    val del = base.filter(col("ok") % 7 === 0)

    val baseAgg = base.groupBy(col("grp")).agg(
      count(lit(1)).as("b_cnt"), sum(col("qty")).as("b_sum"),
      min(col("price")).as("b_min"))
    val delAgg = del.groupBy(col("grp")).agg(
      count(lit(1)).as("d_cnt"), sum(col("qty")).as("d_sum"),
      min(col("price")).as("d_min"))
    val insAgg = ins.groupBy(col("grp")).agg(
      count(lit(1)).as("i_cnt"), sum(col("qty")).as("i_sum"),
      min(col("price")).as("i_min"))

    val merged = baseAgg
      .join(delAgg, Seq("grp"), "left")
      .join(insAgg, Seq("grp"), "full_outer")
      .select(col("grp"),
        (coalesce(col("b_cnt"), lit(0L)) - coalesce(col("d_cnt"), lit(0L)) +
          coalesce(col("i_cnt"), lit(0L))).as("cnt"),
        (coalesce(col("b_sum"), dec(lit(0))) - coalesce(col("d_sum"), dec(lit(0))) +
          coalesce(col("i_sum"), dec(lit(0)))).as("sum_qty"),
        col("b_min"), col("d_min"), col("i_min"))
      .filter(col("cnt") > 0)

    // non-retractable MIN: re-derive ONLY groups whose min was deleted
    val affected = merged
      .filter(col("d_min").isNotNull && col("d_min") === col("b_min"))
      .select(col("grp"))
    val newState = base.filter(col("ok") % 7 =!= 0).unionByName(ins)
    val rederived = newState
      .join(affected.hint("broadcast"), Seq("grp"), "left_semi")
      .groupBy(col("grp")).agg(min(col("price")).as("r_min"))

    merged.join(rederived, Seq("grp"), "left")
      .select(col("grp"), col("cnt"),
        money(col("sum_qty")).as("sum_qty"),
        when(col("d_min").isNotNull && col("d_min") === col("b_min"),
            col("r_min"))
          .otherwise(least(col("b_min"), coalesce(col("i_min"), col("b_min"))))
          .cast("double").as("min_price"))
      .orderBy(col("grp"))
  }

  private val q37Sql =
    """WITH f AS (
      |  SELECT l_suppkey % 500 AS grp,
      |    CAST(l_quantity AS DECIMAL(18,2)) AS qty,
      |    CAST(l_extendedprice AS DECIMAL(18,2)) AS price
      |  FROM lineitem
      |  WHERE l_orderkey % 10 = 0
      |     OR (l_orderkey % 10 <> 0 AND l_orderkey % 7 <> 0))
      |SELECT grp, COUNT(*) AS cnt,
      |  CAST(ROUND(SUM(qty), 2) AS DOUBLE) AS sum_qty,
      |  CAST(MIN(price) AS DOUBLE) AS min_price
      |FROM f GROUP BY grp ORDER BY grp""".stripMargin

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q37_retract_ivm" -> q37,
    "q36_histogram"       -> q36,
    "q35_snapshot_diff"   -> q35,
    "q34_kmv_setalgebra"  -> q34,
    "q33_zonemap_skip"    -> q33,
    "q32_linreg"          -> q32,
    "q31_incr_join"       -> q31,
    "q30_data_quality"    -> q30,
    "q29_k_anonymity"     -> q29,
    "q28_skyline"         -> q28,
    "q22_approx_quantile" -> q22,
    "q23_kmv_distinct"    -> q23,
    "q24_rank_functions"  -> q24,
    "q25_grouping_sets"   -> q25,
    "q26_unpivot"         -> q26,
    "q27_hll_merge"       -> q27,
    "q10_full_outer"   -> q10,
    "q11_cube"         -> q11,
    "q12_stats"        -> q12,
    "q13_strings"      -> q13,
    "q14_nulls"        -> q14,
    "q15_approx_hll"   -> q15,
    "q16_correlated"   -> q16,
    "q17_multiset_ops" -> q17,
    "q18_cms_heavy_hitters" -> q18,
    "q19_running_window" -> q19,
    "q20_quantile_contract" -> q20,
    "q21_bloom_prefilter" -> q21)

  override def oracle: Map[String, String] = Map(
    "q37_retract_ivm" -> q37Sql,
    "q36_histogram"      -> q36Sql,
    "q35_snapshot_diff"  -> q35Sql,
    "q34_kmv_setalgebra" -> q34Sql,
    "q33_zonemap_skip" -> q33Sql,
    "q32_linreg"       -> q32Sql,
    "q31_incr_join"    -> q31Sql,
    "q30_data_quality" -> q30Sql,
    "q29_k_anonymity"  -> q29Sql,
    "q28_skyline"      -> q28Sql,
    "q10_full_outer"   -> q10Sql,
    "q11_cube"         -> q11Sql,
    "q12_stats"        -> q12Sql,
    "q13_strings"      -> q13Sql,
    "q14_nulls"        -> q14Sql,
    "q15_approx_hll"   -> q15Sql,
    "q16_correlated"   -> q16Sql,
    "q17_multiset_ops" -> q17Sql,
    "q18_cms_heavy_hitters" -> q18Sql,
    "q19_running_window" -> q19Sql,
    "q22_approx_quantile" -> q22Sql,
    "q23_kmv_distinct"    -> q23Sql,
    "q24_rank_functions"  -> q24Sql,
    "q25_grouping_sets"   -> q25Sql,
    "q26_unpivot"         -> q26Sql,
    "q27_hll_merge"       -> q27Sql,
    "q20_quantile_contract" -> q20Sql,
    "q21_bloom_prefilter" -> q21Sql)
}
