package perfbench

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite with BeforeAndAfterAll {
  private var spark: SparkSession = _
  private val start = java.time.Instant.parse("2024-03-01T00:00:00Z").toEpochMilli * 1000
  private val span = 86400L * 1000000

  override def beforeAll(): Unit =
    spark = SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", "2").getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def hash(seed: Long, partitions: Int) =
    Gen.contentHash(Gen.events(spark, seed, 5000, start, span,
      partitions = partitions).toDF())

  test("the same seed gives the same content hash, however rows are split") {
    assert(hash(7, 1) == hash(7, 1))
    assert(hash(7, 1) == hash(7, 3))
  }

  test("another seed gives other content") {
    assert(hash(7, 2) != hash(8, 2))
  }

  test("rows are a pure function of (seed, id)") {
    assert(Gen.row(3, 42, 1000, start, span) == Gen.row(3, 42, 1000, start, span))
    assert(Gen.row(3, 42, 1000, start, span) != Gen.row(4, 42, 1000, start, span))
  }

  test("event types are Zipf-skewed with a NULL share; time arrives out of order") {
    val rows = (0L until 20000L).map(Gen.row(1, _, 20000, start, span))
    val byType = rows.groupBy(r => Option(r.event_type)).map { case (k, v) => k -> v.size }
    val nulls = byType.getOrElse(None, 0).toDouble / rows.size
    assert(nulls > 0.01 && nulls < 0.03)
    val counts = Gen.EventTypes.map(t => byType.getOrElse(Some(t), 0))
    assert(counts == counts.sorted.reverse && counts.head > 3 * counts.last)
    assert(rows.sliding(2).exists { case Seq(a, b) => b.ts.before(a.ts) })
    assert(rows.forall(_.props.contains("\"ctx\": {")))
  }
}
