package perfbench

import java.sql.Timestamp

import org.apache.spark.sql.{Dataset, SparkSession}

/** One generated event. Columns follow the engine's events schema. */
final case class Event(event_id: Long, ts: Timestamp, user_id: Long,
                       event_type: String, value: Double, props: String)

/** Seeded events generator shared by the backup, ingest and streaming
  * workloads. Every field of row `id` is a pure function of
  * `(seed, id)`, so the same seed yields identical rows however the rows
  * are split into partitions or files.
  *
  *  - `ts` advances evenly over the span but each row is jittered by up
  *    to ±[[JitterMicros]], so rows arrive out of time order;
  *  - `event_type` is Zipf-skewed over [[EventTypes]] with a
  *    [[NullShare]] of NULLs;
  *  - `props` is nested JSON (an object, a nested object and an array).
  */
object Gen {
  val EventTypes: Seq[String] = Seq(
    "view", "click", "search", "purchase", "signup", "share", "error",
    "logout")
  val NullShare = 0.02
  val ZipfExponent = 1.1
  val Users = 50000L
  val JitterMicros: Long = 10L * 60 * 1000000

  /** Cumulative Zipf weights over [[EventTypes]]. */
  private val zipfCdf: Array[Double] = {
    val w = EventTypes.indices.map(i => 1.0 / math.pow(i + 1, ZipfExponent))
    w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
  }

  /** SplitMix64 finalizer over (seed, id, field). */
  def hash(seed: Long, id: Long, field: Int): Long = {
    var z = seed * 0x9E3779B97F4A7C15L + id * 0xBF58476D1CE4E5B9L +
      field * 0x94D049BB133111EBL
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Uniform in [0, 1). */
  def unit(seed: Long, id: Long, field: Int): Double =
    (hash(seed, id, field) >>> 11) * (1.0 / (1L << 53))

  private def below(seed: Long, id: Long, field: Int, n: Long): Long =
    java.lang.Long.remainderUnsigned(hash(seed, id, field), n)

  /** Event type for row `id`: NULL with probability [[NullShare]], else
    * a Zipf draw. */
  def eventType(seed: Long, id: Long): String = {
    val u = unit(seed, id, 1)
    if (u < NullShare) null
    else {
      val v = (u - NullShare) / (1 - NullShare)
      val i = zipfCdf.indexWhere(v < _)
      EventTypes(if (i < 0) EventTypes.size - 1 else i)
    }
  }

  /** Row `id` of `n` rows spread over `[startMicros, startMicros + spanMicros)`. */
  def row(seed: Long, id: Long, n: Long, startMicros: Long,
          spanMicros: Long): Event = {
    val base = startMicros + (BigInt(id) * spanMicros / n).toLong
    val jitter = below(seed, id, 2, 2 * JitterMicros + 1) - JitterMicros
    val et = eventType(seed, id)
    val k = below(seed, id, 5, 1000)
    val props =
      s"""{"k": $k, "ctx": {"page": "/p/${below(seed, id, 6, 500)}", """ +
        s""""ref": "${if (et == null) "none" else et}"}, "tags": """ +
        s"""["t${below(seed, id, 7, 20)}", "t${below(seed, id, 8, 20)}"]}"""
    Event(
      event_id = id,
      ts = micros(base + jitter),
      user_id = below(seed, id, 3, Users),
      event_type = et,
      value = math.round(unit(seed, id, 4) * 100000) / 100.0,
      props = props)
  }

  def toMicros(t: Timestamp): Long =
    Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000

  def micros(us: Long): Timestamp = {
    val t = new Timestamp(Math.floorDiv(us, 1000L))
    t.setNanos((Math.floorMod(us, 1000000L) * 1000).toInt)
    t
  }

  /** The `n`-row table as a Dataset. */
  def events(spark: SparkSession, seed: Long, n: Long, startMicros: Long,
             spanMicros: Long, partitions: Int = 4): Dataset[Event] = {
    import spark.implicits._
    spark.range(0, n, 1, partitions).as[Long]
      .map(id => row(seed, id, n, startMicros, spanMicros))
  }

  /** Order-insensitive content hash of the events columns: the sum of
    * per-row 64-bit hashes, as an exact decimal. */
  def contentHash(ds: org.apache.spark.sql.DataFrame): BigDecimal = {
    import org.apache.spark.sql.functions._
    val h = xxhash64(col("event_id"), col("ts"), col("user_id"),
      col("event_type"), col("value"), col("props"))
    val r = ds.agg(sum(h.cast("decimal(38,0)"))).head()
    if (r.isNullAt(0)) BigDecimal(0) else BigDecimal(r.getDecimal(0))
  }
}
