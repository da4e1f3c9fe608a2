package graft.dedup

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** [[Dedup.substringDupCoverage]] — exact-substring span dedup (Lee et
  * al., 2021 semantics re-expressed as window postings + interval
  * merge). */
class SubstringDedupSpec extends SparkTestBase {
  import spark.implicits._

  private val K = Dedup.SubstringK

  test("a shared 10-token run covers exactly its 10 positions in both docs") {
    // d0: u0..u4 | s0..s9 | v0..v4   (shared run at positions 6..15)
    // d1: w0..w4 | s0..s9 | x0..x4   (shared run at positions 6..15)
    val shared = (0 until 10).map(i => s"s$i").mkString(" ")
    val docs = Seq(
      (0L, (0 until 5).map(i => s"u$i").mkString(" ") + " " + shared + " " +
        (0 until 5).map(i => s"v$i").mkString(" ")),
      (1L, (0 until 5).map(i => s"w$i").mkString(" ") + " " + shared + " " +
        (0 until 5).map(i => s"x$i").mkString(" "))
    ).toDF("doc_id", "text")
    val res = Dedup.substringDupCoverage(docs)
      .select($"doc_id", $"n_tokens", $"dup_tokens", $"dup_permille")
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    // only windows fully inside the run are duplicated: starts 6..8,
    // union of [6,13],[7,14],[8,15] = positions 6..15 = 10 tokens
    assert(res(0L) == ((20L, 10L, 500L)), s"d0: ${res(0L)}")
    assert(res(1L) == ((20L, 10L, 500L)), s"d1: ${res(1L)}")
  }

  test("identical docs are fully covered; docs shorter than K never are") {
    val twelve = (0 until 12).map(i => s"t$i").mkString(" ")
    val five = "p q r s t"
    val docs = Seq(
      (0L, twelve), (1L, twelve),   // identical, 12 tokens
      (2L, five), (3L, five)        // identical but < K tokens: no windows
    ).toDF("doc_id", "text")
    val res = Dedup.substringDupCoverage(docs)
      .select($"doc_id", $"dup_tokens", $"dup_permille")
      .as[(Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(res(0L) == ((12L, 1000L)) && res(1L) == ((12L, 1000L)))
    assert(res(2L) == ((0L, 0L)) && res(3L) == ((0L, 0L)),
      s"sub-K docs must report zero coverage: $res")
  }

  test("within-doc repetition alone is not duplication (cross-doc only)") {
    val run = (0 until K).map(i => s"r$i").mkString(" ")
    val docs = Seq(
      (0L, run + " " + run),                       // repeats itself only
      (1L, (0 until 20).map(i => s"z$i").mkString(" "))
    ).toDF("doc_id", "text")
    val res = Dedup.substringDupCoverage(docs)
      .filter($"dup_tokens" > 0).count()
    assert(res == 0, "a window must appear in >=2 DISTINCT docs to count")
  }

  test("interval merge equals brute-force position expansion on the fixture") {
    val docs = graft.Tables.documents(spark, sf0001)
    val fast = Dedup.substringDupCoverage(docs)
      .select($"doc_id", $"dup_tokens").as[(Long, Long)].collect().toMap
    // brute force: re-derive coverage by exploding every covered
    // position of every duplicated window and counting distinct
    val sh = docs.select(col("doc_id"), split(col("text"), " ").as("w"))
      .select(col("doc_id"), posexplode(expr(
        s"""CASE WHEN size(w) >= $K THEN
           |  graft_hash60_array(transform(sequence(1, size(w) - ${K - 1}),
           |    i -> array_join(slice(w, i, $K), ' ')), 0)
           |ELSE array() END""".stripMargin)).as(Seq("pos0", "h")))
      .select(col("doc_id"), (col("pos0") + 1).as("pos"), col("h"))
    val dup = sh.groupBy("h").agg(countDistinct("doc_id").as("nd"))
      .filter(col("nd") > 1).select("h")
    val brute = sh.join(dup, Seq("h"))
      .select(col("doc_id"), explode(expr(s"sequence(pos, pos + ${K - 1})")).as("p"))
      .distinct()
      .groupBy("doc_id").agg(count(lit(1)).as("dup_tokens"))
      .as[(Long, Long)].collect().toMap
    assert(fast.filter(_._2 > 0) == brute,
      s"interval-merge and brute-force coverage disagree")
  }
}
