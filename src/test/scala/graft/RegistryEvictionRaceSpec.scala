package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.etl.DurableArtifacts

/** The last registry lifecycle race class (VERDICT r14 item 7):
  * LRU eviction firing WHILE a query is draining the evicted
  * bundle's persisted frame. The safety contract under test, in
  * every interleaving:
  *
  *  - the in-flight reader completes with correct results (unpersist
  *    degrades it to lazy recompute from its lineage roots);
  *  - those roots survive, because eviction (unlike explicit release)
  *    never drops durable side-artifacts;
  *  - an attach racing the retire re-resolves a FRESH bundle whose
  *    durable table ATTACHES (refcount bump) instead of rebuilding;
  *  - the explicit release of the last attached owner is the one
  *    thing that drops the table.
  */
class RegistryEvictionRaceSpec extends SparkSpec {

  private case class Bundle(frame: DataFrame)

  test("eviction under a running query: reader survives, durable roots survive, re-attach not rebuild") {
    val table = s"graft_race_${ArtifactRegistry.dirTag("race-corpus-a")}"
    @volatile var cellBuilds = 0
    val reg = new ArtifactRegistry[Bundle](maxCorpora = 1,
      onRetire = (s, _) => DurableArtifacts.drop(s, table))
    def buildA(b: ArtifactRegistry.Build): Bundle = {
      cellBuilds += 1
      val durable = DurableArtifacts.bucketedTable(
        spark, table, 1, Seq("id"), Seq("id")) {
        spark.range(2000).toDF("id")
      }
      Bundle(b.persist(durable.withColumn("v", col("id") * 2)))
    }

    val a = reg(spark, "race-corpus-a")(buildA)
    a.frame.count() // frame cached and hot
    cellBuilds shouldBe 1
    DurableArtifacts.buildCount(table) shouldBe 1
    DurableArtifacts.attachCount(table) shouldBe 1

    // in-flight reader: a slow scan over the cached frame (2 ms per
    // row across 4 tasks ≈ 1 s of query time for the race window).
    // The latch lives in the companion OBJECT — a closure-captured
    // latch is not serializable; the module singleton is.
    val slow = udf(RegistryEvictionRaceSpec.slowIdentity _)
    val inFlight = Future {
      a.frame.repartition(4)
        .select(sum(slow(col("v")))).head().getLong(0)
    }
    RegistryEvictionRaceSpec.started
      .await(30, TimeUnit.SECONDS) shouldBe true

    // memory pressure: corpus B lands, maxCorpora=1 evicts A NOW —
    // mid-query. Eviction unpersists but must NOT run onRetire.
    reg(spark, "race-corpus-b")(_ =>
      Bundle(spark.range(10).toDF("id")))
    // attach-while-retiring: resolve A again immediately — the old
    // cell is gone from the map, so this is a fresh cell build whose
    // durable table must ATTACH (buildCount stays 1), evicting B.
    val a2 = reg(spark, "race-corpus-a")(buildA)
    cellBuilds shouldBe 2
    DurableArtifacts.buildCount(table) shouldBe 1 // attached, not rebuilt
    spark.catalog.tableExists(table) shouldBe true

    // the evicted-mid-flight reader still lands the right answer:
    // sum(2*id, id < 2000) = 2000 * 1999
    Await.result(inFlight, 120.seconds) shouldBe 2000L * 1999L
    a2.frame.count() shouldBe 2000L

    // the LAST explicit release is what drops the durable table
    reg.release(spark, "race-corpus-a")
    DurableArtifacts.attachCount(table) shouldBe 0
    spark.catalog.tableExists(table) shouldBe false
  }
}

object RegistryEvictionRaceSpec {
  val started = new java.util.concurrent.CountDownLatch(1)
  def slowIdentity(x: Long): Long = {
    started.countDown(); Thread.sleep(2); x
  }
}
