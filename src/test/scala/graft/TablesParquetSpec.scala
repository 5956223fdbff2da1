package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.SparkException
import org.apache.spark.sql.{AnalysisException, DataFrame, Row}
import org.apache.spark.sql.functions.{col, expr, lit, struct, xxhash64}
import org.apache.spark.sql.types._

/** `Tables.parquet` resolves the data schema from a footer on the
  * driver. It must give the frame `spark.read.parquet` gives (same
  * schema, same rows) on every layout the engine reads, fail the way
  * Spark fails, and open a table without starting a Spark job. */
class TablesParquetSpec extends SparkSpec {

  private val sfDir = s"${sys.props("user.home")}/testdata/sf0.001"

  /** `Bench.drain`'s sink: XOR of per-row xxhash64 over every column. */
  private def rowHash(df: DataFrame): Long =
    df.select(xxhash64(struct(df.columns.map(col).toIndexedSeq: _*)).as("h"))
      .agg(expr("bit_xor(h)")).head().getLong(0)

  private def assertParity(path: String): Unit = withClue(path) {
    val ours = Tables.parquet(spark, path)
    val spark0 = spark.read.parquet(path)
    ours.schema shouldBe spark0.schema
    rowHash(ours) shouldBe rowHash(spark0)
  }

  private def withConf[T](kv: (String, String))(body: => T): T = {
    val old = spark.conf.getOption(kv._1)
    spark.conf.set(kv._1, kv._2)
    try body finally old.fold(spark.conf.unset(kv._1))(spark.conf.set(kv._1, _))
  }

  private def tmp(): String = Files.createTempDirectory("graft-tparquet").toString

  /** Two partitions written in two appends with different data
    * columns, so a merged schema differs from a one-footer schema,
    * plus two hidden non-parquet files that sort before the data and
    * that Spark's listing skips. */
  private lazy val partitioned: String = {
    val dir = s"${tmp()}/t"
    spark.range(0, 6).select(col("id"), (col("id") * 2).as("x"), lit(1).as("p"))
      .write.partitionBy("p").parquet(dir)
    spark.range(6, 9).select(col("id"), (col("id") * 0.5).as("y"), lit(2).as("p"))
      .write.mode("append").partitionBy("p").parquet(dir)
    Seq(".notes", "_committed_0").foreach(n =>
      Files.write(Paths.get(dir, n), "not parquet".getBytes))
    dir
  }

  test("same schema and rows as spark.read.parquet on every sf0.001 table") {
    withConf("spark.sql.legacy.parquet.nanosAsLong" -> "true") {
      Tables.all.foreach(t => assertParity(s"$sfDir/$t.parquet"))
    }
  }

  test("same schema and rows on Spark-written events in every ts encoding") {
    val us = 1704067200000000L
    val encodings: Seq[(DataType, Any)] = Seq(
      LongType -> us * 1000L,
      TimestampNTZType -> java.time.LocalDateTime.ofEpochSecond(us / 1000000L, 0,
        java.time.ZoneOffset.UTC),
      TimestampType -> java.time.Instant.ofEpochSecond(us / 1000000L))
    encodings.foreach { case (tsType, ts) =>
      val path = s"${tmp()}/events.parquet"
      val schema = StructType(Seq(StructField("event_id", LongType),
        StructField("ts", tsType), StructField("event_type", StringType)))
      spark.createDataFrame(spark.sparkContext.parallelize(
        Seq(Row(1L, ts, "click"), Row(2L, ts, "view")), 1), schema)
        .write.parquet(path)
      val names = new java.io.File(path).list().toSeq
      names should contain("_SUCCESS")
      names.exists(_.endsWith(".crc")) shouldBe true
      assertParity(path)
    }
  }

  test("a partitionBy directory appends the partition column with its inferred type") {
    val df = Tables.parquet(spark, partitioned)
    df.schema.fieldNames.last shouldBe "p"
    df.schema("p").dataType shouldBe IntegerType
    assertParity(partitioned)
  }

  test("mergeSchema=true merges every footer as Spark does") {
    withConf("spark.sql.parquet.mergeSchema" -> "true") {
      Tables.parquet(spark, partitioned).schema.fieldNames.toSeq shouldBe
        Seq("id", "x", "y", "p")
      assertParity(partitioned)
    }
  }

  test("conflicting footers under mergeSchema=true raise Spark's CANNOT_MERGE_SCHEMAS") {
    val dir = s"${tmp()}/t"
    spark.range(2).select(col("id").as("x"), lit(1).as("p")).write.partitionBy("p").parquet(dir)
    spark.range(2).select(col("id").cast("string").as("x"), lit(2).as("p"))
      .write.mode("append").partitionBy("p").parquet(dir)
    withConf("spark.sql.parquet.mergeSchema" -> "true") {
      intercept[SparkException](spark.read.parquet(dir))
        .getCondition shouldBe "CANNOT_MERGE_SCHEMAS"
      intercept[SparkException](Tables.parquet(spark, dir))
        .getCondition shouldBe "CANNOT_MERGE_SCHEMAS"
    }
  }

  test("a directory with no data file of its own raises Spark's UNABLE_TO_INFER_SCHEMA") {
    val empty = tmp()
    Files.createFile(Paths.get(empty, "_SUCCESS"))
    // data only below a non-partition subdirectory: Spark does not
    // read it, so neither does the walk
    val nested = tmp()
    spark.range(3).write.parquet(s"$nested/sub")
    Seq(empty, nested).foreach { dir =>
      withClue(dir) {
        intercept[AnalysisException](spark.read.parquet(dir))
          .getCondition shouldBe "UNABLE_TO_INFER_SCHEMA"
        intercept[AnalysisException](Tables.parquet(spark, dir))
          .getCondition shouldBe "UNABLE_TO_INFER_SCHEMA"
      }
    }
  }

  test("a missing path raises Spark's PATH_NOT_FOUND") {
    val path = s"${tmp()}/absent.parquet"
    intercept[AnalysisException](spark.read.parquet(path))
      .getCondition shouldBe "PATH_NOT_FOUND"
    intercept[AnalysisException](Tables.parquet(spark, path))
      .getCondition shouldBe "PATH_NOT_FOUND"
  }

  test("opening every corpus table starts no Spark job") {
    val group = s"tables-open-${System.nanoTime()}"
    sc.setJobGroup(group, "open the corpus tables")
    try Tables.all.foreach(t => Tables(spark, sfDir, t).schema)
    finally sc.clearJobGroup()
    sc.statusTracker.getJobIdsForGroup(group) shouldBe empty
  }
}
