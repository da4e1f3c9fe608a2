package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-factor multiplier for bench runs beyond the driver-provided
  * fixtures: replicates every fact table `factor`× with per-copy key
  * offsets, preserving referential integrity (a copy's lineitem rows
  * join ONLY that copy's orders/part/supplier rows; region/nation are
  * dims and stay unreplicated).
  *
  * Content transforms keep the SCALING PROFILE honest — a naive
  * replicate-verbatim corpus is pathological for the similarity
  * operators (every doc/vector gains factor−1 EXACT twins, so near-dup
  * pair counts grow ×factor², a quadratic artifact of the generator
  * rather than the plans being measured):
  *  - document text (and p_name): per-copy letter PERMUTATION (seeded
  *    Fisher–Yates over the 26 lowercase letters, injective across
  *    copies by runtime check) — intra-copy gram relationships and df
  *    profiles are preserved exactly, cross-copy grams decorrelate, so
  *    true near-dup pairs scale ×factor, as a real 10× corpus would.
  *  - embeddings: per-copy dimension permutation (seeded Fisher–Yates
  *    over 0..63, injective across copies) — norms and intra-copy
  *    cosines are preserved bit-exactly, cross-copy cosines
  *    decorrelate, so dup-pair counts and cell occupancies scale
  *    ×factor.
  *
  * Usage: runMain graft.tools.ScaleUp <srcDir> <dstDir> <factor>
  * (e.g. /root/testdata/sf0.1 /tmp/graft_sf1 10), then point Bench at
  * dstDir via SPARK_GRAFT_SF_DIR.
  */
object ScaleUp {

  /** Key offset per copy — far above any fixture key (sf0.1 maxima are
    * ~6·10⁵) and large enough that factor·offset stays < 2⁶². */
  val Offset = 100000000L

  private val Letters = "abcdefghijklmnopqrstuvwxyz"

  /** Per-copy permutation of the 26 lowercase letters (copy 0 =
    * identity), as the `translate` target string.
    *
    * The first cut rotated the 12 most frequent letters by `i % 12` —
    * a PERIODIC family, so at factor > 12 copies 12 apart got the
    * identical transform and were exact twins again, reinstating the
    * quadratic pair artifact the rotation existed to kill (measured at
    * factor 100: LSH candidate pairs 115× for 10× data, all of it
    * chance-free cross-copy twins). Seeded Fisher–Yates draws from all
    * 26! permutations instead; [[distinctPerms]] proves the generated
    * family injective per run, so NO two copies share a transform at
    * any factor ≤ 1000. Any letter bijection preserves intra-copy gram
    * relationships and df profiles exactly; distinct bijections
    * decorrelate cross-copy grams, so true near-dup pairs scale
    * ×factor, as a real scaled corpus would. */
  private[tools] def permuted(i: Int): String =
    if (i == 0) Letters else new String(fisherYates(26, i).map(j => Letters.charAt(j)))

  /** Deterministic Fisher–Yates permutation of 0 until n, seeded by
    * `seed` through a SplitMix64 stream (public-domain constants;
    * Steele et al. 2014) — no java.util.Random so the output is pinned
    * across JVM versions. */
  private[tools] def fisherYates(n: Int, seed: Int): Array[Int] = {
    var s = seed.toLong * 0x9E3779B97F4A7C15L + 0xBF58476D1CE4E5B9L
    def next(): Long = {
      s += 0x9E3779B97F4A7C15L
      var z = s
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }
    val a = Array.tabulate(n)(identity)
    var k = n - 1
    while (k > 0) {
      val j = java.lang.Math.floorMod(next(), (k + 1).toLong).toInt
      val t = a(k); a(k) = a(j); a(j) = t
      k -= 1
    }
    a
  }

  /** Fail loudly if any two copies would share a transform (26! and
    * 64! make a collision astronomically unlikely, but the guarantee
    * should be checked, not assumed). */
  private def distinctPerms(factor: Int): Unit = {
    require((0 until factor).map(permuted).distinct.size == factor,
      s"letter-permutation collision within factor $factor")
    require((0 until factor).map(dimPerm(_).toSeq).distinct.size == factor,
      s"dimension-permutation collision within factor $factor")
  }

  /** Per-copy permutation of embedding dimensions 0..63 (copy 0 =
    * identity). Replaces the cyclic shift by 11·i mod 64 — periodic
    * with period 64, so factor-100 copies 64 apart were bit-exact
    * twins. A permutation preserves norms and intra-copy cosines
    * bit-exactly; distinct permutations decorrelate cross-copy
    * cosines, so dup-pair counts and cell occupancies scale ×factor. */
  private[tools] def dimPerm(i: Int): Array[Int] =
    if (i == 0) Array.tabulate(64)(identity) else fisherYates(64, i)

  def main(args: Array[String]): Unit = {
    require(args.length == 3, "usage: ScaleUp <srcDir> <dstDir> <factor>")
    val Array(srcDir, dstDir, factorS) = args
    val factor = factorS.toInt
    val spark = graft.DriverSession.build(srcDir).spark
    run(spark, srcDir, dstDir, factor)
    spark.stop()
  }

  /** Replicate `srcDir`'s fixture tables ×`factor` into `dstDir` —
    * extracted from [[main]] so ScaleUpSpec can pin the generator
    * contract (row scaling, referential integrity, decorrelation)
    * end-to-end at a small factor. */
  def run(spark: SparkSession, srcDir: String, dstDir: String,
          factor: Int): Unit = {
    require(factor >= 1 && factor <= 1000, s"unreasonable factor $factor")
    distinctPerms(factor)

    def replicate(df: DataFrame, perCopy: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until factor).map(i => perCopy(df, i)).reduce(_.unionByName(_))

    def off(i: Int, cols: String*)(df: DataFrame): DataFrame =
      cols.foldLeft(df)((d, c) => d.withColumn(c, col(c) + lit(Offset * i)))

    def write(name: String, df: DataFrame): Unit = {
      df.write.mode("overwrite").parquet(s"$dstDir/$name.parquet")
      println(s"[scaleup] $name: ${spark.read.parquet(s"$dstDir/$name.parquet").count()} rows")
    }

    val t = graft.Tables

    // dims: unreplicated (their keys are referenced unchanged)
    write("region", t.region(spark, srcDir))
    write("nation", t.nation(spark, srcDir))

    write("customer", replicate(t.customer(spark, srcDir),
      (d, i) => off(i, "c_custkey")(d)))
    write("supplier", replicate(t.supplier(spark, srcDir),
      (d, i) => off(i, "s_suppkey")(d)))
    // p_name gets the documents treatment: replicate-verbatim gives
    // every name factor−1 exact twins, so q51's duplicate-name cliques
    // grow ×factor and its key-pair output ×factor² — a generator
    // artifact (measured: 29× wall for 10× data at factor 100). The
    // per-copy letter permutation is a bijection, so intra-copy edit
    // distances are preserved EXACTLY while cross-copy names decorrelate
    // — fuzzy-match output scales ×factor, as a real 10× catalog would.
    write("part", replicate(t.part(spark, srcDir), (d, i) =>
      off(i, "p_partkey")(
        if (i == 0) d
        else d.withColumn("p_name", translate(col("p_name"), Letters, permuted(i))))))
    write("orders", replicate(t.orders(spark, srcDir),
      (d, i) => off(i, "o_orderkey", "o_custkey")(d)))
    write("lineitem", replicate(t.lineitem(spark, srcDir),
      (d, i) => off(i, "l_orderkey", "l_partkey", "l_suppkey")(d)))
    write("events", replicate(t.events(spark, srcDir),
      (d, i) => off(i, "event_id", "user_id")(d)))

    write("documents", replicate(t.documents(spark, srcDir), (d, i) =>
      off(i, "doc_id")(
        if (i == 0) d
        else d.withColumn("text", translate(col("text"), Letters, permuted(i))))))

    write("embeddings", replicate(t.embeddings(spark, srcDir), (d, i) =>
      off(i, "vec_id")(
        if (i == 0) d
        else d.withColumn("embedding", expr(
          s"transform(array(${dimPerm(i).mkString(",")}), j -> " +
            s"element_at(embedding, j + 1))")))))
  }
}
