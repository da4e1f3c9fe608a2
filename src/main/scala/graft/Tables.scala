package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Fixture-table loaders. Each table is one parquet file per scale
  * factor (see TESTDATA.md / FIXTURES.md). `spark.read.parquet` gives
  * columnar scans with predicate pushdown + column pruning for free.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    loadPath(spark, s"$dir/$name.parquet")

  /** Canonical post-load contract (pinned by FixturesSpec): every
    * timestamp column is session-zoned `TimestampType` — never
    * TIMESTAMP_NTZ, which `unix_micros`, `withWatermark`, and the rest
    * of the timestamp-only surface reject at analysis time. Fixture
    * writers have historically emitted three parquet encodings for
    * `ts` — TIMESTAMP(NANOS) (read as long under the legacy
    * `spark.sql.legacy.parquet.nanosAsLong` flag, set at session build
    * by [[DriverSession]]),
    * `timestamp[us]` without the UTC-adjusted flag (read as
    * TIMESTAMP_NTZ by Spark 4 — the pandas/pyarrow and DuckDB writer
    * default; r7's silent fixture regeneration broke 11 operators this
    * way), and UTC-adjusted `timestamp[us]` (read as TIMESTAMP
    * directly). Normalize all of them here, for ALL columns (the
    * orders/lineitem date columns ship NTZ too), so every downstream
    * operator sees one type. The session is pinned to UTC, so NTZ→LTZ
    * is value-preserving and agrees with the DuckDB oracle's naive
    * timestamp arithmetic.
    */
  def loadPath(spark: SparkSession, path: String): DataFrame = {
    val df0 = spark.read.parquet(path)
    val df = df0.schema.fields.find(f => f.name == "ts").map(_.dataType) match {
      case Some(org.apache.spark.sql.types.LongType) =>
        // ns → µs floor-truncation, same as the DuckDB oracle's display
        // truncation; comparisons against second-aligned bounds agree.
        df0.withColumn("ts",
          org.apache.spark.sql.functions.timestamp_micros(
            org.apache.spark.sql.functions.expr("ts div 1000")))
      case _ => df0
    }
    df.schema.fields.collect {
      case f if f.dataType == org.apache.spark.sql.types.TimestampNTZType =>
        f.name
    }.foldLeft(df) { (d, c) =>
      d.withColumn(c, org.apache.spark.sql.functions.col(c).cast(
        org.apache.spark.sql.types.TimestampType))
    }
  }

  def region(s: SparkSession, d: String): DataFrame    = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = load(s, d, "lineitem")
  def events(s: SparkSession, d: String): DataFrame    = load(s, d, "events")
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
