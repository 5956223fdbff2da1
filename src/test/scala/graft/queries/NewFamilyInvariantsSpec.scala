package graft.queries

import graft.{SparkSpec, SparkEntry, Tables}
import org.apache.spark.sql.functions._

/** Semantic invariants for the round-4 additions (g1 PageRank, s7
  * quantization audit, d14 edit-verified dedup, t15 TF-IDF, t16
  * vocabulary coverage) that the hash-vs-oracle gate can't express:
  * conservation laws, error bounds, and subset relations between
  * operators. */
class NewFamilyInvariantsSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  test("g1: pagerank mass is conserved (sums to 1) and strictly positive") {
    val rows = SparkEntry.queries("g1_pagerank")(spark, sfDir)
      .select(col("pagerank")).collect().map(_.getDouble(0))
    rows should not be empty
    all(rows) should be > 0.0
    // rounded to 8 decimals per node; n nodes of absorbed rounding error
    rows.sum shouldBe 1.0 +- (rows.length * 1e-8)
  }

  test("g1: high-degree supplier nodes outrank the median customer") {
    val rows = SparkEntry.queries("g1_pagerank")(spark, sfDir).collect()
    val (supp, cust) = rows.partition(_.getLong(1) == 1L)
    supp should not be empty
    cust should not be empty
    // suppliers aggregate many customers' mass: their MEAN rank must
    // exceed the customers' (degree-weighted stationary distribution)
    val meanS = supp.map(_.getDouble(3)).sum / supp.length
    val meanC = cust.map(_.getDouble(3)).sum / cust.length
    meanS should be > meanC
  }

  test("s7: worst reconstruction error is bounded by half the largest step") {
    val step = Tables(spark, sfDir, "embeddings")
      .select(posexplode(col("embedding")).as(Seq("pos", "x")))
      .groupBy(col("pos"))
      .agg(((max(col("x")) - min(col("x"))).cast("double") / 255.0).as("st"))
      .agg(max(col("st"))).collect()(0).getDouble(0)
    val worst = SparkEntry.queries("s7_quant_audit")(spark, sfDir)
      .agg(max(col("max_abs_err"))).collect()(0).getDouble(0)
    worst should be <= step / 2 + 1e-9
  }

  test("d14: every verified pair is an LSH candidate and meets the sim bar") {
    val d14 = SparkEntry.queries("d14_edit_dedup")(spark, sfDir)
    val rows = d14.collect()
    rows.foreach { r =>
      withClue(s"${r.getLong(0)}-${r.getLong(1)}") {
        r.getLong(0) should be < r.getLong(1)
        r.getDouble(3) should be >= 0.8
      }
    }
    // subset of the d3 candidate set (same generator, stricter verify)
    val d3pairs = SparkEntry.queries("d3_minhash_lsh")(spark, sfDir)
      .select(col("d1"), col("d2"))
    // d14 admits pairs d3's 12/16 signature bar may reject, but any pair
    // with edit_sim ≥ 0.9 is a true near-dup the LSH index must also know:
    val strict = d14.filter(col("edit_sim") >= 0.95).select(col("d1"), col("d2"))
    strict.join(d3pairs, Seq("d1", "d2"), "left_anti").count() shouldBe 0L
  }

  test("t15: ranks are dense 1..k per source and the score formula holds") {
    val n = Tables(spark, sfDir, "documents").count()
    val rows = SparkEntry.queries("t15_tfidf")(spark, sfDir).collect()
    rows should not be empty
    rows.groupBy(_.getString(0)).foreach { case (src, rs) =>
      withClue(src) {
        rs.map(_.getLong(1)).sorted shouldBe (1L to rs.length).toArray
        rs.foreach { r =>
          r.getLong(3) should be >= 5L // tf support filter
          r.getDouble(5) shouldBe
            (r.getLong(3).toDouble * n / r.getLong(4)) +- 1e-6
        }
      }
    }
  }

  test("t16: OOV accounting is internally consistent") {
    val rows = SparkEntry.queries("t16_vocab_coverage")(spark, sfDir).collect()
    rows should not be empty
    rows.foreach { r =>
      withClue(r.getString(0)) {
        val (tok, oov) = (r.getLong(1), r.getLong(2))
        oov should be <= tok
        r.getLong(3) should be <= oov // distinct OOV types ≤ OOV tokens
        r.getDouble(4) shouldBe (oov.toDouble / tok) +- 1e-6
      }
    }
  }

  test("g2: intersection-form triangle counts match a driver brute force") {
    // independent re-count: build the co-occurrence graph in driver
    // memory (spec-only collect; sf0.001) and count each emitted
    // node's triangles by direct neighbor-pair adjacency probing
    val li = Tables(spark, sfDir, "lineitem")
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk")).distinct()
    val edges = li.as("a")
      .join(li.as("b"),
        col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
      .select(col("a.pk").as("u"), col("b.pk").as("v")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val adj = scala.collection.mutable.Map.empty[Long, Set[Long]]
      .withDefaultValue(Set.empty)
    edges.foreach { case (u, v) => adj(u) += v; adj(v) += u }
    def brute(n: Long): Long = {
      val ns = adj(n).toSeq.sorted
      (for {
        i <- ns.indices.iterator; j <- (i + 1 until ns.length).iterator
        if adj(ns(i)).contains(ns(j))
      } yield 1L).sum
    }
    val rows = SparkEntry.queries("g2_triangles")(spark, sfDir).collect()
    rows should not be empty
    rows.foreach { r =>
      withClue(s"part ${r.getLong(0)}") {
        r.getLong(1) shouldBe adj(r.getLong(0)).size.toLong // deg
        r.getLong(2) shouldBe brute(r.getLong(0))           // triangles
        r.getDouble(3) shouldBe
          (2.0 * r.getLong(2) / (r.getLong(1).toDouble * (r.getLong(1) - 1))) +- 1e-6
      }
    }
  }

  test("q23: the KMV estimate honors its tolerance contract on every group") {
    val rows = SparkEntry.queries("q23_kmv_distinct")(spark, sfDir).collect()
    rows should not be empty
    rows.foreach { r =>
      withClue(r.getString(0)) {
        r.getDouble(2) should be > 0.0
        r.getBoolean(3) shouldBe true
      }
    }
  }

  test("e19: the spine is gap-free per user and fills carry forward") {
    val rows = SparkEntry.queries("e19_gapfill")(spark, sfDir).collect()
    rows should not be empty
    rows.groupBy(_.getLong(0)).foreach { case (user, rs) =>
      withClue(s"user $user") {
        val days = rs.map(_.getDate(1).toLocalDate)
        // contiguous daily spine: span == row count
        val span = java.time.temporal.ChronoUnit.DAYS.between(
          days.min(Ordering.by((_: java.time.LocalDate).toEpochDay)),
          days.max(Ordering.by((_: java.time.LocalDate).toEpochDay))) + 1
        span shouldBe rs.length.toLong
        // first and last day of a span are observations by construction
        val byDay = rs.sortBy(_.getDate(1).toLocalDate.toEpochDay)
        byDay.head.getBoolean(2) shouldBe false
        byDay.last.getBoolean(2) shouldBe false
        // a gap day repeats the most recent observed value
        var lastObs = Double.NaN
        byDay.foreach { r =>
          if (!r.getBoolean(2)) lastObs = r.getDouble(3)
          else r.getDouble(3) shouldBe lastObs
        }
      }
    }
  }

  test("e20: transition probabilities normalize per source state") {
    val rows = SparkEntry.queries("e20_transitions")(spark, sfDir).collect()
    rows should not be empty
    rows.groupBy(_.getString(0)).foreach { case (src, rs) =>
      withClue(src)(rs.map(_.getDouble(3)).sum shouldBe 1.0 +- 1e-4)
    }
  }

  test("e21: every flagged day really is a >2-sigma outlier vs its window") {
    val rows = SparkEntry.queries("e21_zscore_anomaly")(spark, sfDir).collect()
    // flags exist at this SF and all satisfy the definition
    rows should not be empty
    rows.foreach { r =>
      math.abs(r.getDouble(4)) should be > 2.0
      r.getDouble(3) should be >= 0.0 // trailing mean of nonneg spends
    }
  }

  test("s10: PQ codes address the 8-entry codebooks; errors nonnegative") {
    val rows = SparkEntry.queries("s10_pq_codes")(spark, sfDir).collect()
    rows should not be empty
    rows.foreach { r =>
      (1 to 4).foreach(i => r.getLong(i) should (be >= 0L and be <= 7L))
      r.getDouble(5) should be >= 0.0
    }
  }

  test("s11: per-query ranks are dense and ADC distances ascend") {
    val rows = SparkEntry.queries("s11_ivfpq_ann")(spark, sfDir).collect()
    rows should not be empty
    rows.groupBy(_.getLong(0)).foreach { case (qid, rs) =>
      withClue(s"query $qid") {
        val sorted = rs.sortBy(_.getLong(1))
        sorted.map(_.getLong(1)) shouldBe (1L to rs.length).toArray
        val ds = sorted.map(_.getDouble(3))
        ds.zip(ds.tail).foreach { case (a, b) => a should be <= b }
        rs.foreach(_.getLong(2) should not be qid) // self excluded
      }
    }
  }

  test("e23: the partial-state merge is cut-invariant") {
    // the incremental-maintenance law: WHERE the history/delta cut
    // falls must not change the merged rollup (count and exact
    // decimal sums merge associatively). The gated query uses one
    // cut; here a different cut reproduces it row for row.
    import graft.QueryPack.{dec, money}
    val e = Tables(spark, sfDir, "events")
    def partials(cond: org.apache.spark.sql.Column) = e.filter(cond)
      .groupBy(col("user_id"),
        date_trunc("DAY", col("ts")).cast("date").as("day"))
      .agg(count(lit(1)).as("n"), sum(dec(col("value"))).as("amt"))
    val otherCut = Tables.nanos("2024-01-05")
    val merged = partials(col("ts_ns") < otherCut)
      .unionByName(partials(col("ts_ns") >= otherCut))
      .groupBy(col("user_id"), col("day"))
      .agg(sum(col("n")).as("n_events"), money(sum(col("amt"))).as("total"))
    val reference = SparkEntry.queries("e23_incr_rollup")(spark, sfDir)
    reference.count() should be > 0L
    merged.except(reference).count() shouldBe 0L
    reference.except(merged).count() shouldBe 0L
  }

  test("q27: every segment's merged-sketch estimate meets the 5% contract") {
    val rows = SparkEntry.queries("q27_hll_merge")(spark, sfDir).collect()
    rows should not be empty
    rows.foreach { r =>
      withClue(r.getString(0)) {
        r.getBoolean(4) shouldBe true
        r.getLong(1) should be >= 1L // at least one monthly partition
      }
    }
  }

  test("artifact registries: release frees the caches and queries rebuild") {
    // warm both registries, snapshot results
    val d3Before = SparkEntry.queries("d3_minhash_lsh")(spark, sfDir).collect()
    val s10Before = SparkEntry.queries("s10_pq_codes")(spark, sfDir).collect()
    val g2Before = SparkEntry.queries("g2_triangles")(spark, sfDir).collect()
    graft.ArtifactRegistry.release(spark, sfDir)
    // released artifacts rebuild lazily and reproduce the same output
    SparkEntry.queries("d3_minhash_lsh")(spark, sfDir)
      .collect() shouldBe d3Before
    SparkEntry.queries("s10_pq_codes")(spark, sfDir)
      .collect() shouldBe s10Before
    SparkEntry.queries("g2_triangles")(spark, sfDir)
      .collect() shouldBe g2Before
  }

  test("q28: skyline equals the brute-force dominance filter") {
    val parts = Tables(spark, sfDir, "lineitem")
      .groupBy(col("l_partkey").as("part"))
      .agg(sum(col("l_quantity").cast("decimal(18,2)")).cast("long").as("qty"),
        min((col("l_extendedprice").cast("decimal(18,2)") * 100)).cast("long")
          .as("price_cents"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val brute = parts.filter { case (_, q, p) =>
      !parts.exists { case (_, q2, p2) =>
        p2 <= p && q2 >= q && (p2 < p || q2 > q)
      }
    }.map(_._1).toSet
    val got = SparkEntry.queries("q28_skyline")(spark, sfDir)
      .select(col("part")).collect().map(_.getLong(0)).toSet
    got shouldBe brute
    got should not be empty
    // no frontier member dominates another (mutual non-dominance)
    val fr = parts.filter(t => got(t._1))
    fr.foreach { case (id, q, p) =>
      fr.count { case (_, q2, p2) =>
        p2 <= p && q2 >= q && (p2 < p || q2 > q) } shouldBe 0
    }
  }

  test("e25: Holt fold matches the imperative two-state model exactly") {
    import graft.QueryPack.dec
    val daily = Tables(spark, sfDir, "events")
      .groupBy(col("user_id"),
        date_trunc("DAY", col("ts")).cast("date").as("day"))
      .agg((round(sum(dec(col("value"))), 2) * 100).cast("long").as("c"))
      .collect().map(r => (r.getLong(0), r.getDate(1).toString, r.getLong(2)))
    val model = daily.groupBy(_._1).map { case (uid, rows) =>
      val cs = rows.sortBy(_._2).map(_._3.toDouble)
      var l = cs.head; var b = 0.0
      cs.tail.foreach { x =>
        val lp = 0.5 * x + 0.5 * (l + b)
        b = 0.5 * (lp - l) + 0.5 * b
        l = lp
      }
      uid -> ((l / 100, b / 100))
    }
    val got = SparkEntry.queries("e25_holt_trend")(spark, sfDir).collect()
    got should not be empty
    got.foreach { r =>
      val (ml, mb) = model(r.getLong(0))
      withClue(s"user ${r.getLong(0)}") {
        r.getDouble(3) shouldBe (BigDecimal(ml)
          .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
        r.getDouble(4) shouldBe (BigDecimal(mb)
          .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
      }
    }
  }

  test("s14: reconstruction error per dim is within half a quantization step") {
    // |x - dequant(quant(x))| <= wd/512 by construction (midpoint
    // decode of a 256-level uniform grid); distances then satisfy the
    // audit's error column >= 0. The gated query only exposes distance
    // error; recompute the per-dim bound here.
    val e = Tables(spark, sfDir, "embeddings")
      .withColumn("v", col("embedding").cast("array<double>"))
    val dims = e.select(posexplode(col("v")).as(Seq("pos", "x")))
      .groupBy(col("pos"))
      .agg(min(col("x")).as("mn"), (max(col("x")) - min(col("x"))).as("wd"))
    val worstStep = dims.agg(max(col("wd"))).collect()(0).getDouble(0) / 512
    val recon = e.crossJoin(broadcast(dims.groupBy()
        .agg(expr("transform(array_sort(collect_list(struct(pos, mn))), s -> s.mn)").as("mns"),
          expr("transform(array_sort(collect_list(struct(pos, wd))), s -> s.wd)").as("wds"))))
      .withColumn("err", expr(
        "aggregate(zip_with(zip_with(v, mns, (x, mn) -> x - mn), wds, (d, wd) -> " +
          "abs(d - (IF(wd = 0D, 0D, least(floor((d / wd) * 256.0D), 255.0D)) + 0.5D) / 256.0D * wd)), " +
          "cast(0.0 as double), (acc, x) -> greatest(acc, x))"))
      .agg(max(col("err"))).collect()(0).getDouble(0)
    recon should be <= worstStep + 1e-9
    val rows = SparkEntry.queries("s14_int8_quant")(spark, sfDir).collect()
    rows should not be empty
    all(rows.map(_.getDouble(5))) should be >= 0.0
  }

  test("d19: splits partition the corpus and never separate a near-dup pair") {
    val rows = SparkEntry.queries("d19_leakage_split")(spark, sfDir).collect()
    rows should not be empty
    all(rows.map(_.getLong(4))) shouldBe 0L // leaked_pairs
    val totalDocs = rows.map(_.getLong(1)).sum
    totalDocs shouldBe Tables(spark, sfDir, "documents").count()
    // token mass conservation vs a direct count
    val totalToks = rows.map(_.getLong(3)).sum
    val direct = Tables(spark, sfDir, "documents")
      .agg(sum(expr("size(split(text, ' '))").cast("long")))
      .collect()(0).getLong(0)
    totalToks shouldBe direct
  }

  test("t21: bm25 results carry matched terms and descend in score") {
    val rows = SparkEntry.queries("t21_bm25")(spark, sfDir).collect()
    rows should not be empty
    rows.foreach { r =>
      withClue(s"doc ${r.getLong(0)}") {
        r.getLong(2) should (be >= 1L and be <= 4L) // n_terms
        r.getDouble(3) should be > 0.0
      }
    }
    val scores = rows.map(_.getDouble(3))
    scores.zip(scores.tail).foreach { case (a, b) => a should be >= b }
  }

  test("d20: incremental clusters equal the full d6 recompute row for row") {
    val incr = SparkEntry.queries("d20_incr_clusters")(spark, sfDir)
    val full = SparkEntry.queries("d6_dup_clusters")(spark, sfDir)
    incr.count() should be > 0L
    incr.except(full).count() shouldBe 0L
    full.except(incr).count() shouldBe 0L
  }

  test("e27: CUSUM fold matches the imperative model exactly") {
    import graft.QueryPack.dec
    val daily = Tables(spark, sfDir, "events")
      .groupBy(col("user_id"),
        date_trunc("DAY", col("ts")).cast("date").as("day"))
      .agg((round(sum(dec(col("value"))), 2) * 100).cast("long").as("c"))
      .collect().map(r => (r.getLong(0), r.getDate(1).toString, r.getLong(2)))
    // mirrors the query's s7 floor-convention rounding (r18)
    def r4(x: Double) = math.floor(x * 1e4 + 0.5) / 1e4
    val model = daily.groupBy(_._1).map { case (uid, rows) =>
      val cs = rows.sortBy(_._2).map(_._3)
      val n = cs.length
      val mu = cs.sum.toDouble / n
      val sigma = math.sqrt(math.max(0.0,
        cs.map(c => c * c).sum.toDouble / n - mu * mu))
      var s = 0.0; var mx = 0.0; var na = 0L
      cs.foreach { c =>
        s = math.max(0.0, s + (c.toDouble - mu - sigma / 2))
        mx = math.max(mx, s)
        if (s > 3 * sigma) na += 1
      }
      uid -> ((r4(s / 100), r4(mx / 100), na))
    }
    val got = SparkEntry.queries("e27_cusum_drift")(spark, sfDir).collect()
    got should not be empty
    got.foreach { r =>
      withClue(s"user ${r.getLong(0)}") {
        (r.getDouble(3), r.getDouble(4), r.getLong(5)) shouldBe
          model(r.getLong(0))
      }
    }
  }

  test("t17: overlap scores are valid Jaccards over ordered source pairs") {
    val rows = SparkEntry.queries("t17_source_overlap")(spark, sfDir).collect()
    rows should not be empty
    rows.foreach { r =>
      withClue(s"${r.getString(0)}-${r.getString(1)}") {
        r.getString(0) should be < r.getString(1)
        r.getLong(2) should be > 0L
        r.getDouble(3) should (be > 0.0 and be <= 1.0)
      }
    }
    // each unordered pair appears at most once
    val pairs = rows.map(r => (r.getString(0), r.getString(1)))
    pairs.distinct.length shouldBe pairs.length
  }
}
