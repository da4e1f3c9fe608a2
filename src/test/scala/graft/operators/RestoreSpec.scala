package graft.operators

import java.nio.file.Files
import java.time.Instant

import graft.{SparkTestBase, Tables}
import graft.config.BackupConfig
import graft.functions.Stringify
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Restore = Backup⁻¹: stringify-inverse on nested types, and the full
  * backup → restore → original-equality roundtrip the reference
  * advertises but never implements (README.md:3 vs main.go:30-32).
  */
class RestoreSpec extends SparkTestBase {

  test("unstringify inverts Stringify on nested struct/array/map with nulls") {
    val schema = StructType(Seq(
      StructField("id", LongType),
      StructField("s", StructType(Seq(
        StructField("a", IntegerType), StructField("b", StringType)))),
      StructField("xs", ArrayType(DoubleType)),
      StructField("m", MapType(StringType, LongType))))
    val rows = Seq(
      Row(1L, Row(7, null), Seq(1.5, 2.0), Map("k1" -> 10L)),
      Row(2L, null, Seq.empty[Double], Map.empty[String, Long]),
      Row(3L, Row(null, "x"), null, null))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(r => r: Row)), schema)

    val stringified = df.select(Stringify.columns(schema): _*)
    val roundtripped = stringified.select(schema.fields.toSeq.map { f =>
      Restore.unstringify(col(f.name), f.dataType).as(f.name)
    }: _*)

    assert(roundtripped.schema == schema)
    assert(roundtripped.collect().toSet == df.collect().toSet)
  }

  test("backup(faithful) -> restore reproduces the windowed original") {
    val backupDir = Files.createTempDirectory("graft_restore_b_").toString
    val restoredDir = Files.createTempDirectory("graft_restore_r_").toString
    val cfg = BackupConfig(
      inputPath = s"$sf0001/events.parquet", outputPath = backupDir,
      timeColumn = "ts", partitionColumn = "event_type",
      from = Instant.parse("2024-01-05T00:00:00Z"),
      to = Instant.parse("2024-01-25T00:00:00Z"))
    Backup.run(spark, cfg, faithfulStrings = true)

    val target = Tables.events(spark, sf0001).schema
    val restored =
      Restore.run(spark, backupDir, target, "event_type", restoredDir)

    val original = Tables.events(spark, sf0001)
      .filter(col("ts") >= lit("2024-01-05 00:00:00").cast("timestamp") &&
        col("ts") <= lit("2024-01-25 00:00:00").cast("timestamp"))
      .filter(col("event_type").isNotNull)

    assert(restored.schema.fieldNames.toSeq == target.fieldNames.toSeq)
    assert(restored.count() == original.count())
    // full row-level equality, timestamps compared at their µs precision
    val key = target.fieldNames.toSeq
    assert(restored.select(key.map(col): _*).collect().toSet ==
      original.select(key.map(col): _*).collect().toSet)
  }

  test("restore under a shifted session timezone fails loudly") {
    val backupDir = Files.createTempDirectory("graft_restore_tz_").toString
    val restoredDir = Files.createTempDirectory("graft_restore_tzr_").toString
    val cfg = BackupConfig(
      inputPath = s"$sf0001/events.parquet", outputPath = backupDir,
      timeColumn = "ts", partitionColumn = "event_type",
      from = Instant.parse("2024-01-05T00:00:00Z"),
      to = Instant.parse("2024-01-10T00:00:00Z"))
    Backup.run(spark, cfg, faithfulStrings = true)
    val target = Tables.events(spark, sf0001).schema

    val prior = spark.conf.get("spark.sql.session.timeZone")
    try {
      spark.conf.set("spark.sql.session.timeZone", "Asia/Tokyo")
      // the stamp check must refuse BEFORE any data is read: a silent
      // restore here would shift every timestamp by 9 hours
      val e = intercept[IllegalArgumentException] {
        Restore.run(spark, backupDir, target, "event_type", restoredDir)
      }
      assert(e.getMessage.contains("timezone") ||
        e.getMessage.contains("timeZone"))
    } finally spark.conf.set("spark.sql.session.timeZone", prior)

    // and under the matching zone the same backup restores fine
    val restored =
      Restore.run(spark, backupDir, target, "event_type", restoredDir)
    assert(restored.count() > 0)
  }

  test("string partition values with leading zeros restore as written") {
    // partition discovery would infer "007"/"010" as ints (7, 10);
    // Restore's read schema must keep the directory values as strings
    import spark.implicits._
    val in = Files.createTempDirectory("graft_restore_lz_in_")
      .resolve("t.parquet").toString
    Seq(("007", "2024-01-05 01:00:00", 1L), ("010", "2024-01-05 02:00:00", 2L),
      ("007", "2024-01-06 03:00:00", 3L))
      .toDF("code", "ts", "n").withColumn("ts", col("ts").cast("timestamp"))
      .write.parquet(in)
    val backupDir = Files.createTempDirectory("graft_restore_lz_b_").toString
    val restoredDir = Files.createTempDirectory("graft_restore_lz_r_").toString
    Backup.run(spark, BackupConfig(
      inputPath = in, outputPath = backupDir,
      timeColumn = "ts", partitionColumn = "code",
      from = Instant.parse("2024-01-05T00:00:00Z"),
      to = Instant.parse("2024-01-07T00:00:00Z")), faithfulStrings = true)

    val original = Tables.loadPath(spark, in)
    val restored =
      Restore.run(spark, backupDir, original.schema, "code", restoredDir)
    assert(restored.schema.map(f => (f.name, f.dataType)) ==
      original.schema.map(f => (f.name, f.dataType)))
    assert(restored.select("code").as[String].collect().toSet ==
      Set("007", "010"))
    assert(restored.collect().toSet == original.collect().toSet)
  }
}
