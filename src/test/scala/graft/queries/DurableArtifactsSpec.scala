package graft.queries

import graft.SparkSpec
import graft.etl.DurableArtifacts

/** Lifecycle of the DURABLE train-once artifacts (round 13, refcount
  * round 14): the cluster-label and quarantine drop-set registries
  * write managed bucketed tables once per corpus snapshot, a FRESH
  * SparkSession attaches to the table instead of re-running the CC
  * rounds / the 8-gram decontamination probe (the cold-start contract
  * the session-memory registries could not honor), and explicit
  * release detaches ONE session — the table is dropped only when the
  * LAST attached session releases, so a sibling session's persisted
  * frames (whose recompute lineage roots on the table scan) stay
  * valid across another session's release. */
class DurableArtifactsSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  test("cluster labels: fresh session attaches; last-release drops; sibling survives first release") {
    val labels1 = DedupQueries.dupClusters(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    labels1.length should be > 0
    val table = DedupQueries.clusterTableName(sfDir)
    spark.catalog.tableExists(table) shouldBe true
    val builds0 = DurableArtifacts.buildCount(table)
    builds0 should be >= 1L

    // a new session = a new registry key: without the durable table it
    // would re-run DocArtifacts + the CC rounds; with it, it must
    // attach (build count unchanged) and read identical labels
    val s2 = spark.newSession()
    val labels2 = DedupQueries.dupClusters(s2, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    DurableArtifacts.buildCount(table) shouldBe builds0
    labels2 shouldBe labels1
    DurableArtifacts.attachCount(table) shouldBe 2

    // FIRST release detaches only the releasing session: the table
    // must survive (s2's cached frame roots its recompute on the
    // scan) and s2 must still read correct labels AFTER the release —
    // the use-after-release hazard the refcount exists to close
    graft.ArtifactRegistry.release(spark, sfDir)
    spark.catalog.tableExists(table) shouldBe true
    DurableArtifacts.attachCount(table) shouldBe 1
    val labelsAfterSiblingRelease = DedupQueries.dupClusters(s2, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    labelsAfterSiblingRelease shouldBe labels1

    // LAST release retires the durable table (snapshot lifecycle)
    graft.ArtifactRegistry.release(s2, sfDir)
    spark.catalog.tableExists(table) shouldBe false
    DurableArtifacts.attachCount(table) shouldBe 0

    // next access REBUILDS (lazy re-admission) with identical content
    val labels3 = DedupQueries.dupClusters(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    DurableArtifacts.buildCount(table) shouldBe builds0 + 1
    labels3 shouldBe labels1
    graft.ArtifactRegistry.release(spark, sfDir) // leave no residue
  }

  test("graph edge tables: a fresh session attaches to all six; last release retires them") {
    val r1 = graft.SparkEntry.queries("g2_triangles")(spark, sfDir)
      .collect().toSeq
    val sfx = graft.ArtifactRegistry.dirTag(sfDir)
    val tables = Seq("inc", "bip", "bipdst", "oriented", "orienteddst",
      "edgenv").map(t => s"graft_g_${t}_$sfx")
    tables.foreach(t => withClue(s"$t: ") {
      spark.catalog.tableExists(t) shouldBe true
    })
    val builds0 = tables.map(DurableArtifacts.buildCount)

    val s2 = spark.newSession()
    val r2 = graft.SparkEntry.queries("g2_triangles")(s2, sfDir)
      .collect().toSeq
    tables.map(DurableArtifacts.buildCount) shouldBe builds0 // attached
    r2 shouldBe r1

    // first release keeps the tables for the attached sibling; the
    // sibling still answers g2 correctly; last release retires
    graft.ArtifactRegistry.release(spark, sfDir)
    tables.foreach(t => withClue(s"$t: ") {
      spark.catalog.tableExists(t) shouldBe true
    })
    graft.SparkEntry.queries("g2_triangles")(s2, sfDir)
      .collect().toSeq shouldBe r1
    graft.ArtifactRegistry.release(s2, sfDir)
    tables.foreach(t => withClue(s"$t: ") {
      spark.catalog.tableExists(t) shouldBe false
    })
  }

  test("quarantine drop set: fresh session attaches; last release retires") {
    val ids1 = TextQueries.decontamDropIds(spark, sfDir)
      .collect().map(_.getLong(0)).sorted
    val table = TextQueries.quarantineTableName(sfDir)
    spark.catalog.tableExists(table) shouldBe true
    val builds0 = DurableArtifacts.buildCount(table)

    val s2 = spark.newSession()
    val ids2 = TextQueries.decontamDropIds(s2, sfDir)
      .collect().map(_.getLong(0)).sorted
    DurableArtifacts.buildCount(table) shouldBe builds0
    ids2 shouldBe ids1

    graft.ArtifactRegistry.release(spark, sfDir)
    spark.catalog.tableExists(table) shouldBe true // s2 still attached
    graft.ArtifactRegistry.release(s2, sfDir)
    spark.catalog.tableExists(table) shouldBe false

    val ids3 = TextQueries.decontamDropIds(spark, sfDir)
      .collect().map(_.getLong(0)).sorted
    DurableArtifacts.buildCount(table) shouldBe builds0 + 1
    ids3 shouldBe ids1
    graft.ArtifactRegistry.release(spark, sfDir)
  }
}
