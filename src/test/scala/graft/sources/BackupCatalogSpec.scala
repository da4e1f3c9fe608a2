package graft.sources

import graft.{SparkTestBase, Tables}
import graft.config.BackupConfig
import org.apache.spark.sql.functions._

/** The graft TableCatalog: directory-tree-as-metastore DDL, zero-config
  * INSERT INTO via the meta stamp, and pushdown surviving the catalog
  * resolution path. */
class BackupCatalogSpec extends SparkTestBase {
  import spark.implicits._

  private lazy val warehouse: String = {
    val wh = java.nio.file.Files
      .createTempDirectory("graft_catalog").toString
    val cfg = BackupConfig(
      inputPath = s"$sf0001/events.parquet", outputPath = s"$wh/prod/events",
      timeColumn = "ts", partitionColumn = "event_type",
      from = java.time.Instant.parse("2024-01-05T00:00:00Z"),
      to = java.time.Instant.parse("2024-01-25T00:00:00Z"))
    graft.operators.Backup.run(spark, cfg)
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.BackupCatalog")
    spark.conf.set("spark.sql.catalog.graft.warehouse", wh)
    wh
  }

  test("a backup in the warehouse is immediately queryable by name") {
    warehouse
    val got = spark.sql(
      "SELECT count(*) FROM graft.prod.events").head.getLong(0)
    val want = Tables.events(spark, sf0001)
      .filter(col("ts") >= lit("2024-01-05 00:00:00").cast("timestamp") &&
        col("ts") <= lit("2024-01-25 00:00:00").cast("timestamp"))
      .count()
    assert(got == want && got > 0)
  }

  test("SHOW surfaces: namespaces and tables come from the directory tree") {
    warehouse
    val nss = spark.sql("SHOW NAMESPACES IN graft")
      .collect().map(_.getString(0)).toSet
    assert(nss.contains("prod"))
    val tables = spark.sql("SHOW TABLES IN graft.prod")
      .collect().map(_.getString(1)).toSet
    assert(tables == Set("events"))
  }

  test("pushdown survives catalog resolution: partition filter prunes " +
    "planned files") {
    warehouse
    val df = spark.sql(
      "SELECT date_dir FROM graft.prod.events WHERE event_type = 'click'")
    val scans = df.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
        r.scan.asInstanceOf[BackupScan]
    }
    assert(scans.size == 1)
    val planned = PlannedChunks(scans.head.planInputPartitions())
    assert(planned.nonEmpty &&
      planned.forall(_.partValues("event_type") == "click"))
  }

  test("INSERT INTO works with zero options: write contract recovered " +
    "from the meta stamp") {
    warehouse
    val before = spark.sql(
      "SELECT count(*) FROM graft.prod.events").head.getLong(0)
    spark.sql(
      """INSERT INTO graft.prod.events
        |SELECT 999999999 AS event_id,
        |       TIMESTAMP '2024-06-01 12:00:00' AS ts,
        |       42 AS user_id, 'click' AS event_type,
        |       CAST(1.5 AS DOUBLE) AS value, CAST(NULL AS STRING) AS props""".stripMargin)
    val after = spark.sql(
      "SELECT count(*) FROM graft.prod.events").head.getLong(0)
    assert(after == before + 1)
    val row = spark.sql(
      """SELECT event_type, date_dir FROM graft.prod.events
        |WHERE event_id = 999999999""".stripMargin).head
    assert(row.getString(0) == "click" && row.getString(1) == "20240601")
  }

  test("streaming reads resolve through the catalog: " +
    "readStream.table over a backup tails it exactly once") {
    warehouse
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.catalog.graft", "graft.sources.BackupCatalog")
    s2.conf.set("spark.sql.catalog.graft.warehouse", warehouse)
    s2.conf.set("spark.sql.shuffle.partitions", "4")
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft_cat_stream").toString
    val q = s2.readStream.table("graft.prod.events")
      .groupBy(col("event_type")).count()
      .writeStream.format("memory").queryName("cat_stream")
      .outputMode("complete")
      .option("checkpointLocation", s"$ckpt/c")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try assert(q.awaitTermination(120000), "AvailableNow must terminate")
    finally q.stop()
    val streamed = s2.table("cat_stream").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val batch = spark.sql(
      """SELECT event_type, count(*) FROM graft.prod.events
        |GROUP BY event_type""".stripMargin).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(streamed == batch && streamed.nonEmpty)
    try org.apache.spark.sql.execution.streaming.state.StateStore.stop()
    catch { case scala.util.control.NonFatal(_) => () }
  }

  test("DELETE FROM: partition predicates drop directories; finer " +
    "predicates are refused; TRUNCATE empties but keeps the contract") {
    warehouse
    // fresh table so the other tests' view is untouched
    val cfg = BackupConfig(
      inputPath = s"$sf0001/events.parquet",
      outputPath = s"$warehouse/prod/events_del",
      timeColumn = "ts", partitionColumn = "event_type",
      from = java.time.Instant.parse("2024-01-05T00:00:00Z"),
      to = java.time.Instant.parse("2024-01-25T00:00:00Z"))
    graft.operators.Backup.run(spark, cfg)
    val types0 = spark.sql(
      "SELECT DISTINCT event_type FROM graft.prod.events_del")
      .collect().map(_.getString(0)).toSet
    assert(types0.contains("error"))
    spark.sql("DELETE FROM graft.prod.events_del WHERE event_type = 'error'")
    val types1 = spark.sql(
      "SELECT DISTINCT event_type FROM graft.prod.events_del")
      .collect().map(_.getString(0)).toSet
    assert(types1 == types0 - "error")
    assert(!new java.io.File(
      s"$warehouse/prod/events_del/event_type=error").exists())
    // a data-column predicate must be refused, not half-applied
    val e = intercept[Exception] {
      spark.sql("DELETE FROM graft.prod.events_del WHERE user_id = 5")
    }
    assert(e.getMessage.toLowerCase.contains("delete"))
    // TRUNCATE drops every partition dir but keeps the meta stamp
    spark.sql("TRUNCATE TABLE graft.prod.events_del")
    assert(spark.sql(
      "SELECT count(*) FROM graft.prod.events_del").head.getLong(0) == 0L)
    assert(new java.io.File(
      s"$warehouse/prod/events_del/_GRAFT_META.json").exists(),
      "the write contract must survive TRUNCATE")
  }

  test("function catalog: crc32_hex and chunk_stamp resolve through " +
    "graft.fns and match the engine's own implementations") {
    warehouse
    val row = spark.sql(
      """SELECT graft.fns.crc32_hex('hello') AS c,
        |  graft.fns.chunk_stamp(TIMESTAMP '2024-01-05 12:34:56.789')
        |    AS s""".stripMargin).head
    val crc = new java.util.zip.CRC32()
    crc.update("hello".getBytes("UTF-8"))
    assert(row.getString(0) == f"${crc.getValue}%08x")
    assert(row.getString(1) == "20240105T123456Z")
    // over a real column, equal to the expression-tier implementation
    val mismatch = spark.sql(
      """SELECT count(*) FROM (
        |  SELECT graft.fns.crc32_hex(event_type) AS a,
        |    lower(hex(crc32(CAST(event_type AS BINARY)))) AS b
        |  FROM graft.prod.events)
        |WHERE a <> lpad(b, 8, '0')""".stripMargin).head.getLong(0)
    assert(mismatch == 0L)
    val fns = spark.sql("SHOW FUNCTIONS IN graft.fns")
      .collect().map(_.getString(0)).toSet
    assert(fns.exists(_.endsWith("crc32_hex")) &&
      fns.exists(_.endsWith("chunk_stamp")), s"listing missing: $fns")
  }

  test("a zero-row INSERT INTO keeps the CREATE TABLE schema: the " +
    "commit merges into the stamp") {
    warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.ddl0")
    spark.sql(
      """CREATE TABLE graft.ddl0.empty (event_id BIGINT, ts TIMESTAMP,
        |  event_type STRING) USING graftbackup PARTITIONED BY (event_type)
        |TBLPROPERTIES ('timeColumn' = 'ts')""".stripMargin)
    spark.sql(
      """INSERT INTO graft.ddl0.empty
        |SELECT id AS event_id, TIMESTAMP '2024-03-01 10:00:00' AS ts,
        |       'click' AS event_type FROM range(0)""".stripMargin)
    assert(spark.table("graft.ddl0.empty").schema.fieldNames.toSeq ==
      Seq("event_id", "ts", "event_type"))
  }

  test("DDL: create/rename/drop table and namespace map to directories") {
    warehouse
    spark.sql("CREATE NAMESPACE graft.staging")
    assert(new java.io.File(s"$warehouse/staging").isDirectory)
    spark.sql(
      """CREATE TABLE graft.staging.t1 (event_id BIGINT, ts TIMESTAMP,
        |  event_type STRING) USING graftbackup""".stripMargin)
    assert(new java.io.File(s"$warehouse/staging/t1").isDirectory)
    spark.sql("ALTER TABLE graft.staging.t1 RENAME TO staging.t2")
    assert(!new java.io.File(s"$warehouse/staging/t1").exists())
    assert(new java.io.File(s"$warehouse/staging/t2").isDirectory)
    spark.sql("DROP TABLE graft.staging.t2")
    assert(!new java.io.File(s"$warehouse/staging/t2").exists())
    spark.sql("DROP NAMESPACE graft.staging")
    assert(!new java.io.File(s"$warehouse/staging").exists())
  }

  test("CREATE TABLE PARTITIONED BY stamps the write contract: a later " +
    "INSERT INTO partitions by the declared column (advisor item)") {
    warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.ddl")
    spark.sql(
      """CREATE TABLE graft.ddl.parted (event_id BIGINT, ts TIMESTAMP,
        |  event_type STRING) USING graftbackup PARTITIONED BY (event_type)
        |TBLPROPERTIES ('timeColumn' = 'ts')""".stripMargin)
    // the declared partitioning must survive to disk BEFORE any insert
    val meta = new java.io.File(s"$warehouse/ddl/parted/_GRAFT_META.json")
    assert(meta.isFile, "create must stamp _GRAFT_META.json")
    val stamp = new String(java.nio.file.Files.readAllBytes(meta.toPath))
    assert(stamp.contains("\"partitionColumn\":\"event_type\"") &&
      stamp.contains("\"timeColumn\":\"ts\""), stamp)
    // the table is ACCEPT_ANY_SCHEMA (advisory-schema design), so the
    // insert names its columns; the stamped contract routes event_type
    // into the directory layout
    spark.sql(
      """INSERT INTO graft.ddl.parted
        |SELECT 1L AS event_id, TIMESTAMP '2024-03-01 10:00:00' AS ts,
        |       'click' AS event_type""".stripMargin)
    assert(new java.io.File(
      s"$warehouse/ddl/parted/event_type=click").isDirectory,
      "insert must land in the declared partition directory")
    val back = spark.sql(
      "SELECT event_id, event_type FROM graft.ddl.parted").collect()
    assert(back.length == 1 && back.head.getString(1) == "click")
    // non-identity transforms have no chunk-layout meaning: refuse loudly
    val e = intercept[Exception] {
      spark.sql(
        """CREATE TABLE graft.ddl.bucketed (event_id BIGINT, ts TIMESTAMP)
          |USING graftbackup PARTITIONED BY (bucket(4, event_id))""".stripMargin)
    }
    assert(e.getMessage.toLowerCase.contains("identity") ||
      Option(e.getCause).exists(_.getMessage.contains("identity")), e.getMessage)
  }
}
