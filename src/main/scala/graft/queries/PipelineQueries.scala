package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import graft.dedup.Dedup

/** [EXT] Training-data pipeline surface, part 2: the span-level dedup,
  * shard-packing, and hybrid-retrieval operations a 100 TB corpus
  * pipeline runs after the x01–x38 curation stages. Same oracle
  * discipline as the rest of the suite — md5-derived portable hashes
  * and scaled-rational integer scoring, so DuckDB reproduces every
  * value bit-for-bit.
  */
object PipelineQueries {

  /** Shard-packing fan-out: documents are hashed into `PackBuckets`
    * independent streams, each packed greedily. Parallelism at scale =
    * the bucket count (set it to O(cluster cores) there); packing
    * within a bucket is inherently sequential, which is exactly why the
    * bucket split exists. */
  val PackBuckets = 8

  /** Token budget per training shard. */
  val PackBudget = 1000L

  /** Hash seed for the packing bucket split (independent of x19's
    * split seed and x25's sample seed — a doc's bucket is a fresh
    * hash bit). */
  val PackSeed = 11

  /** Fixed query term set for the hybrid-retrieval fusion (x42) —
    * frequent fixture vocabulary so the BM25 leg ranks a large
    * candidate pool at every sf. */
  val RrfQueryTerms: Seq[String] = Seq("spark", "join", "window")

  /** RRF rank damping constant (the k=60 of Cormack et al., 2009). */
  val RrfK = 60

  /** Hash seed + sample size for the weighted πps sample (x46). */
  val WSampleSeed = 23
  val WSampleK = 500

  /** Temperature-mix (x64): hash seed (fresh bit vs x19/x25/x46/x58)
    * and token-budget divisor — the mixed sample targets tot/5 tokens. */
  val TempMixSeed = 13
  val TempMixBudgetDiv = 5

  private val Dim = graft.similarity.Ann.Dim

  /** Context-window chunking (x59): window/stride in tokens. */
  val ChunkWindow = 64
  val ChunkStride = 48

  /** Epoch-shuffle seed (x58) — a fresh hash bit per doc per epoch. */
  val ShuffleSeed = 7

  val defs: Map[String, QueryDef] = Map(

    // deterministic epoch shuffle: the reproducible data-loading order
    // every training run needs — shuffle_pos is the rank of the doc
    // under a seeded portable hash (change the seed per epoch, get a
    // fresh-but-reproducible permutation; identical on any engine, any
    // partitioning, any rerun). The global rank is computed WITHOUT a
    // global window (an unpartitioned row_number funnels the corpus
    // through one task): hash bands are ORDERED prefixes of the hash,
    // so global rank = band offset + within-band rank — one window
    // partitioned by band, one tiny (≤4096-row) cumulative-offset
    // table broadcast back. At 100 TB that's one shuffle on band with
    // 4096-way parallelism, and readers can range-prune "positions
    // [a, b)" straight to hash bands.
    "x58_epoch_shuffle" -> QueryDef(
      s"""WITH h AS (SELECT doc_id,
         |  ${DedupQueries.duckHash("CAST(doc_id AS VARCHAR)", ShuffleSeed)} AS hs
         |  FROM documents)
         |SELECT doc_id,
         |  row_number() OVER (ORDER BY hs, doc_id) AS shuffle_pos
         |FROM h""".stripMargin) { (s, dir) =>
      val h = Tables.documents(s, dir)
        .withColumn("hs", expr(
          s"element_at(graft_hash60_array(array(CAST(doc_id AS STRING)), $ShuffleSeed), 1)"))
        .withColumn("band", (col("hs") / lit(1L << 48)).cast("long"))
      val offsets = h.groupBy(col("band")).agg(count(lit(1)).as("n"))
        .withColumn("band_offset",
          coalesce(sum(col("n")).over(
            Window.orderBy(col("band"))
              .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .select(col("band"), col("band_offset"))
      h.join(broadcast(offsets), Seq("band"))
        .withColumn("shuffle_pos", col("band_offset") + row_number().over(
          Window.partitionBy(col("band")).orderBy(col("hs"), col("doc_id"))))
        .select(col("doc_id"), col("shuffle_pos"))
    },

    // context-window chunking: split each document's token stream into
    // fixed-size windows with stride overlap — how long documents
    // become model-ready sequences (chunk = tokens[s, s+W-1] for
    // s = 1, 1+S, 2S+1, … while s ≤ n_tokens; trailing partials kept,
    // rule explicit in both engines). Pure per-row explode: no
    // shuffle at all until a downstream op needs one, so it scales as
    // a map stage; output rows ≈ n_tokens/stride per doc.
    "x59_context_chunks" -> QueryDef(
      s"""WITH d AS (SELECT doc_id, string_split(text,' ') w FROM documents),
         |c AS (SELECT doc_id, len(w) AS n_tokens,
         |        unnest(range(1, len(w)+1, $ChunkStride)) AS s,
         |        unnest([array_to_string(w[i:i+${ChunkWindow - 1}],' ')
         |                for i in range(1, len(w)+1, $ChunkStride)]) AS chunk
         |      FROM d)
         |SELECT doc_id, ((s - 1) / $ChunkStride)::BIGINT AS chunk_idx,
         |  least($ChunkWindow, n_tokens - s + 1)::BIGINT AS chunk_tokens,
         |  chunk
         |FROM c""".stripMargin) { (s, dir) =>
      Tables.documents(s, dir)
        .withColumn("w", split(col("text"), " "))
        .withColumn("n_tokens", size(col("w")))
        .select(col("doc_id"), col("n_tokens"), col("w"),
          posexplode(expr(s"sequence(1, n_tokens, $ChunkStride)"))
            .as(Seq("chunk_idx", "s")))
        .select(col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"),
          least(lit(ChunkWindow), col("n_tokens") - col("s") + 1)
            .cast("long").as("chunk_tokens"),
          concat_ws(" ", expr(s"slice(w, s, $ChunkWindow)")).as("chunk"))
    },

    // exact-substring duplication coverage (Lee et al., 2021): every
    // 8-token window occurring in ≥2 distinct docs is a duplicated
    // span; per doc, the union of its duplicated spans as a token
    // count + integer per-mille. Spark merges overlapping spans with
    // ONE window pass (running max of span end); the oracle
    // brute-force expands every covered position — same union.
    "x40_substring_dedup" -> QueryDef({
      val k = Dedup.SubstringK
      s"""WITH d AS (SELECT doc_id, string_split(text,' ') w FROM documents),
         |s0 AS (SELECT doc_id,
         |        unnest([array_to_string(w[i:i+${k - 1}],' ')
         |                for i in range(1, greatest(len(w)-${k - 1},0)+1)]) AS sh,
         |        unnest(range(1, greatest(len(w)-${k - 1},0)+1)) AS pos
         |      FROM d),
         |s AS (SELECT doc_id, pos,
         |        ('0x'||substr(md5('0|'||sh),1,15))::BIGINT AS h FROM s0),
         |g AS (SELECT h FROM s GROUP BY h
         |      HAVING count(DISTINCT doc_id) > 1),
         |ds AS (SELECT s.doc_id, s.pos FROM s JOIN g USING (h)),
         |cov AS (SELECT DISTINCT ds.doc_id, ds.pos + r.k AS p
         |        FROM ds, range(0, $k) r(k)),
         |cnt AS (SELECT doc_id, count(*)::BIGINT AS dup_tokens
         |        FROM cov GROUP BY doc_id),
         |n AS (SELECT doc_id, len(w)::BIGINT AS n_tokens FROM d)
         |SELECT n.doc_id, n.n_tokens,
         |       coalesce(c2.dup_tokens, 0)::BIGINT AS dup_tokens,
         |       ((coalesce(c2.dup_tokens, 0) * 1000) // n.n_tokens)::BIGINT
         |         AS dup_permille
         |FROM n LEFT JOIN cnt c2 USING (doc_id)""".stripMargin
    }) { (s, dir) =>
      Dedup.substringDupCoverage(Tables.documents(s, dir))
    },

    // sequence packing: greedy contiguous fill of fixed-token-budget
    // training shards, parallel across hash buckets. A doc's shard is
    // the budget unit its running prefix STARTS in (docs may straddle
    // a boundary — the packer never splits a doc). Per-(bucket, shard)
    // occupancy is the output a shard-writer would consume.
    "x41_pack_shards" -> QueryDef(
      s"""WITH s AS (SELECT doc_id,
         |  ('0x'||substr(md5('$PackSeed|'||CAST(doc_id AS VARCHAR)),1,15))::BIGINT
         |    % $PackBuckets AS bucket,
         |  len(string_split(text,' '))::BIGINT AS tok
         |  FROM documents),
         |c AS (SELECT doc_id, bucket, tok,
         |        sum(tok) OVER (PARTITION BY bucket ORDER BY doc_id
         |                       ROWS UNBOUNDED PRECEDING)::BIGINT AS cum
         |      FROM s)
         |SELECT bucket, ((cum - tok) // $PackBudget)::BIGINT AS shard,
         |       count(*) AS n_docs, sum(tok)::BIGINT AS shard_tokens
         |FROM c GROUP BY bucket, shard""".stripMargin) { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val base = docs.select(
        col("doc_id"),
        expr(s"element_at(graft_hash60_array(array(CAST(doc_id AS STRING))," +
          s" $PackSeed), 1) % $PackBuckets").as("bucket"),
        size(split(col("text"), " ")).cast("long").as("tok"))
      val w = Window.partitionBy(col("bucket")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      base.withColumn("cum", sum(col("tok")).over(w))
        .withColumn("shard", expr(s"(cum - tok) div $PackBudget"))
        .groupBy(col("bucket"), col("shard"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("tok")).cast("bigint").as("shard_tokens"))
    },

    // domain-mixture reweighting: the sampling-weight computation a
    // mixture-controlled training run needs (the DoReMi/Pile recipe's
    // bookkeeping step) — per source: token mass, actual share, and
    // the resampling weight that would equalize the mixture
    // (target = uniform across sources). Integer per-mille / scaled
    // arithmetic throughout: weight_permille = (total · 1000) div
    // (n_sources · src_tokens) — a source at exactly uniform share
    // reads 1000. One explode-free aggregate + one broadcast of the
    // single-row totals; the corpus is scanned once.
    "x43_domain_mix" -> QueryDef(
      """WITH s AS (SELECT source,
        |             CAST(sum(len(string_split(text,' '))) AS BIGINT)
        |               AS src_tokens
        |           FROM documents GROUP BY source),
        |g AS (SELECT CAST(sum(src_tokens) AS BIGINT) AS total,
        |             count(*) AS n_sources FROM s)
        |SELECT source, src_tokens,
        |       ((src_tokens * 1000) // g.total)::BIGINT AS share_permille,
        |       ((g.total * 1000) // (g.n_sources * src_tokens))::BIGINT
        |         AS weight_permille
        |FROM s CROSS JOIN g""".stripMargin) { (s, dir) =>
      val src = Tables.documents(s, dir)
        .groupBy(col("source"))
        .agg(sum(size(split(col("text"), " "))).cast("bigint")
          .as("src_tokens"))
      val g = broadcast(src.agg(
        sum(col("src_tokens")).cast("bigint").as("total"),
        count(lit(1)).as("n_sources")))
      src.crossJoin(g)
        .select(col("source"), col("src_tokens"),
          expr("(src_tokens * 1000L) div total").as("share_permille"),
          expr("(total * 1000L) div (n_sources * src_tokens)")
            .as("weight_permille"))
    },

    // temperature-scaled domain mixing — x43 computes the UNIFORM
    // rebalancing weights; this MATERIALIZES a tempered mix (the
    // XLM-R / mT5 recipe: sample source i with probability ∝ p_i^α,
    // α = 0.5) under a global token budget of tot/TempMixBudgetDiv.
    // α = 0.5 is deliberately the one fractional power both engines
    // compute bit-identically (IEEE sqrt is correctly rounded; pow(x,
    // 0.3) is libm-dependent); floor() makes the weight an integer and
    // every step after it is pure integer arithmetic, so the per-source
    // rate — rate_i = min(1000, (w_i · ((B·1000) div n_i)) div Σw),
    // w_i = floor(sqrt(n_i)), B = tot div 5 — is cross-engine exact.
    // The division is STAGED ((B·1000) div n_i first) to keep every
    // intermediate under 2⁶³ at any real corpus size: the naive
    // (w_i·B·1000) div (Σw·n_i) numerator is ~200·tot^1.5, which wraps
    // Int64 silently on Spark (and errors on DuckDB) past ~1.3·10¹¹
    // tokens — under 1 TB of text. Staged: B·1000 ≤ 200·tot (fits to
    // 4·10¹⁶ tokens ≈ 100+ TB), and its quotient shrinks as w_i grows
    // (product ≤ B·1000/√n_i), so the multiply is bounded too. The
    // inner quotient is ≥ 200 for every source (n_i ≤ tot, B = tot/5),
    // so the staging costs < 0.5% relative rate precision.
    // Rates scale as 1/sqrt(n_i): small sources are upsampled toward
    // the tempered share, huge ones capped at their budget slice.
    // Membership is the portable 60-bit doc_id hash under a fresh seed
    // (no RNG — identical on any engine/partitioning/rerun, and
    // independent of the doc's x19 split and x25 sample bits). Scale
    // shape: one corpus scan for per-source stats, a single-row
    // broadcast of the totals, the ≤|sources| rate table broadcast
    // back onto the scan — the corpus is never shuffled.
    "x64_temperature_mix" -> QueryDef(
      s"""WITH t AS (SELECT doc_id, source,
         |    len(string_split(text,' '))::BIGINT AS toks,
         |    ${DedupQueries.duckHash("CAST(doc_id AS VARCHAR)", TempMixSeed)}
         |      % 1000 AS bucket
         |  FROM documents),
         |s AS (SELECT source, count(*)::BIGINT AS n_docs,
         |        CAST(sum(toks) AS BIGINT) AS n_tokens,
         |        CAST(floor(sqrt(CAST(sum(toks) AS BIGINT))) AS BIGINT) AS w
         |      FROM t GROUP BY source),
         |g AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS tot,
         |             CAST(sum(w) AS BIGINT) AS wsum FROM s),
         |r AS (SELECT s.source, s.n_docs, s.n_tokens,
         |        CAST(least(1000, (s.w *
         |            (((g.tot // $TempMixBudgetDiv) * 1000) // s.n_tokens))
         |          // g.wsum) AS BIGINT) AS rate_permille
         |      FROM s CROSS JOIN g)
         |SELECT r.source, r.n_docs, r.n_tokens, r.rate_permille,
         |  CAST(sum(CASE WHEN t.bucket < r.rate_permille THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_sampled,
         |  CAST(sum(CASE WHEN t.bucket < r.rate_permille THEN t.toks
         |    ELSE 0 END) AS BIGINT) AS sampled_tokens
         |FROM r JOIN t ON t.source = r.source
         |GROUP BY 1, 2, 3, 4""".stripMargin) { (s, dir) =>
      val t = Tables.documents(s, dir).select(col("doc_id"), col("source"),
          size(split(col("text"), " ")).cast("bigint").as("toks"))
        .withColumn("bucket", expr(
          "element_at(graft_hash60_array(array(CAST(doc_id AS STRING)), " +
            s"$TempMixSeed), 1) % 1000"))
      val srcStats = t.groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("toks")).cast("bigint").as("n_tokens"))
        .withColumn("w",
          floor(sqrt(col("n_tokens").cast("double"))).cast("bigint"))
      val g = broadcast(srcStats.agg(
        sum(col("n_tokens")).cast("bigint").as("tot"),
        sum(col("w")).cast("bigint").as("wsum")))
      val rates = srcStats.crossJoin(g)
        .select(col("source"), col("n_docs"), col("n_tokens"),
          least(lit(1000L),
            expr(s"(w * (((tot div $TempMixBudgetDiv) * 1000L) " +
              "div n_tokens)) div wsum")).as("rate_permille"))
      t.join(broadcast(rates), Seq("source"))
        .groupBy(col("source"), col("n_docs"), col("n_tokens"),
          col("rate_permille"))
        .agg(sum(when(col("bucket") < col("rate_permille"), 1L)
            .otherwise(0L)).cast("bigint").as("n_sampled"),
          sum(when(col("bucket") < col("rate_permille"), col("toks"))
            .otherwise(0L)).cast("bigint").as("sampled_tokens"))
    },

    // corpus-build CAPSTONE — the shipped pipeline end-to-end as ONE
    // declarative plan (r13 verdict #6): x65's per-source quality
    // prune → x64's temperature-scaled mix (rates computed on the
    // PRUNED corpus — the composition the isolated ops can't see) →
    // x19's train/val/test hash split → x41's greedy shard packing,
    // per (split, bucket). Every stage reuses its component's exact
    // constants and expressions, so this is the composition contract,
    // not a fourth implementation.
    //
    // Scale shape: the corpus is scanned exactly TWICE (the x64/x65
    // floor for a stats-then-apply pipeline without persisted state,
    // CapstoneSpec-pinned): once into the (source, qp) histogram
    // carrying count AND sum(toks) per bucket — from which the
    // thresholds, the post-prune token masses and the tempered rates
    // are ALL derived by a LINEAR window chain (no self-joins: a
    // histogram self-join duplicates its whole subtree per consumer,
    // since column pruning makes each copy's exchange canonically
    // different — measured at 8 corpus scans before this design) —
    // and once as the doc-level stream, which filters against the
    // broadcast threshold+rate table (≤|sources| rows, one map-side
    // lookup per doc) and packs under the (split, bucket) window. No
    // stage shuffles the corpus on a low-cardinality key, and nothing
    // between the two scans grows with corpus size.
    "x67_corpus_build" -> QueryDef(
      s"""WITH t AS (SELECT doc_id, source,
         |    len(string_split(text,' '))::BIGINT AS toks,
         |    CAST(floor((${TextQueries.duckQuality}) * 1000) AS BIGINT)
         |      AS qp,
         |    ${DedupQueries.duckHash("CAST(doc_id AS VARCHAR)", TempMixSeed)}
         |      % 1000 AS mixb,
         |    ${DedupQueries.duckHash("CAST(doc_id AS VARCHAR)", 42)}
         |      % 100 AS splitb,
         |    ${DedupQueries.duckHash("CAST(doc_id AS VARCHAR)", PackSeed)}
         |      % $PackBuckets AS packb
         |  FROM documents),
         |h AS (SELECT source, qp, count(*) AS c,
         |        CAST(sum(toks) AS BIGINT) AS tk
         |      FROM t GROUP BY 1, 2),
         |n AS (SELECT source, CAST(sum(c) AS BIGINT) AS n_docs
         |      FROM h GROUP BY 1),
         |cum AS (SELECT source, qp,
         |    sum(c) OVER (PARTITION BY source ORDER BY qp DESC) AS n_ge,
         |    CAST(sum(tk) OVER (PARTITION BY source ORDER BY qp DESC)
         |      AS BIGINT) AS tok_ge
         |  FROM h),
         |thr AS (SELECT cum.source, max(cum.qp) AS thr,
         |        CAST(min(cum.tok_ge) AS BIGINT) AS kept_tokens
         |      FROM cum JOIN n ON n.source = cum.source
         |      WHERE cum.n_ge >=
         |        (n.n_docs * ${TextQueries.PruneKeepPermille} + 999) // 1000
         |      GROUP BY 1),
         |s AS (SELECT source, thr, kept_tokens,
         |        CAST(floor(sqrt(kept_tokens)) AS BIGINT) AS w FROM thr),
         |g AS (SELECT CAST(sum(kept_tokens) AS BIGINT) AS tot,
         |             CAST(sum(w) AS BIGINT) AS wsum FROM s),
         |r AS (SELECT s.source, s.thr,
         |        CAST(least(1000, (s.w *
         |            (((g.tot // $TempMixBudgetDiv) * 1000) // s.kept_tokens))
         |          // g.wsum) AS BIGINT) AS rate_permille
         |      FROM s CROSS JOIN g),
         |m AS (SELECT t.doc_id, t.toks, t.packb,
         |        CASE WHEN t.splitb < 80 THEN 'train'
         |             WHEN t.splitb < 90 THEN 'val'
         |             ELSE 'test' END AS split
         |      FROM t JOIN r ON r.source = t.source
         |      WHERE t.qp >= r.thr AND t.mixb < r.rate_permille),
         |c2 AS (SELECT split, packb, toks,
         |        sum(toks) OVER (PARTITION BY split, packb ORDER BY doc_id
         |                        ROWS UNBOUNDED PRECEDING)::BIGINT AS cum
         |      FROM m)
         |SELECT split, packb AS bucket,
         |  ((cum - toks) // $PackBudget)::BIGINT AS shard,
         |  count(*) AS n_docs, CAST(sum(toks) AS BIGINT) AS shard_tokens
         |FROM c2 GROUP BY 1, 2, 3""".stripMargin) { (s, dir) =>
      def hashBit(seed: Int, mod: Long) = expr(
        "element_at(graft_hash60_array(array(CAST(doc_id AS STRING)), " +
          s"$seed), 1) % $mod")
      val t = Tables.documents(s, dir).select(
          col("doc_id"), col("source"),
          size(split(col("text"), " ")).cast("bigint").as("toks"),
          floor(graft.functions.TextAnalysis.qualityScore(col("text")) * 1000)
            .cast("bigint").as("qp"),
          hashBit(TempMixSeed, 1000L).as("mixb"),
          hashBit(42, 100L).as("splitb"),
          hashBit(PackSeed, PackBuckets.toLong).as("packb"))
      // LINEAR stats chain: n_docs, the running >=-tails, the source
      // totals and the global totals are all windows over the
      // histogram (and then over the ≤|sources|-row threshold table)
      // instead of self-joins — a self-join of h would duplicate its
      // whole subtree per consumer (column pruning makes each copy's
      // exchange different, so nothing canonicalizes equal and every
      // derivation bottoms out in its own corpus scan; measured: 8
      // scans). The windows stack on ONE tiny exchange each.
      val h = t.groupBy(col("source"), col("qp"))
        .agg(count(lit(1)).as("c"), sum(col("toks")).cast("bigint").as("tk"))
      val wRun = Window.partitionBy(col("source")).orderBy(col("qp").desc)
      val wSrc = Window.partitionBy(col("source"))
      val cum = h.withColumn("n_ge", sum(col("c")).over(wRun))
        .withColumn("tok_ge", sum(col("tk")).over(wRun))
        .withColumn("n_docs", sum(col("c")).over(wSrc))
      val thr = cum
        .filter(col("n_ge") >=
          expr(s"(n_docs * ${TextQueries.PruneKeepPermille} + 999) div 1000"))
        .groupBy(col("source"))
        .agg(max(col("qp")).as("thr"),
          min(col("tok_ge")).cast("bigint").as("kept_tokens"))
        .withColumn("w",
          floor(sqrt(col("kept_tokens").cast("double"))).cast("bigint"))
      // global totals as an empty-partition window: thr is ≤|sources|
      // rows, so the single-partition funnel is a few hundred bytes
      val wAll = Window.partitionBy()
      val rates = thr
        .withColumn("tot", sum(col("kept_tokens")).over(wAll).cast("bigint"))
        .withColumn("wsum", sum(col("w")).over(wAll).cast("bigint"))
        .select(col("source"), col("thr"),
          least(lit(1000L),
            expr(s"(w * (((tot div $TempMixBudgetDiv) * 1000L) " +
              "div kept_tokens)) div wsum")).as("rate_permille"))
      val m = t.join(broadcast(rates), Seq("source"))
        .filter(col("qp") >= col("thr") && col("mixb") < col("rate_permille"))
        .withColumn("split",
          when(col("splitb") < 80, "train")
            .when(col("splitb") < 90, "val")
            .otherwise("test"))
      val packW = Window.partitionBy(col("split"), col("packb"))
        .orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      m.withColumn("cum", sum(col("toks")).over(packW))
        .withColumn("shard", expr(s"(cum - toks) div $PackBudget"))
        .groupBy(col("split"), col("packb").as("bucket"), col("shard"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("toks")).cast("bigint").as("shard_tokens"))
    },

    // hybrid retrieval: reciprocal-rank fusion (Cormack et al., 2009)
    // of a BM25 keyword ranking (x38's scaled-rational integer score,
    // restricted to the fixed query terms) and a dense cosine ranking
    // against doc 0's embedding — the standard RAG retrieval stack as
    // one declarative plan over the shared doc_id/vec_id key space.
    // RRF contributions are integer-floored (10⁶ // (60+rank)) so the
    // fused score is cross-engine exact; a doc missing from the BM25
    // list contributes only its vector leg (bm25_rank = -1 sentinel —
    // NULL BIGINT degrades to float64 through the oracle's pandas
    // pull, the q20/q80 trap).
    "x42_hybrid_rrf" -> QueryDef({
      val terms = RrfQueryTerms.map(t => s"'$t'").mkString("[", ",", "]")
      s"""WITH toks AS (SELECT doc_id, unnest(string_split(text,' ')) AS term
         |              FROM documents),
         |t AS (SELECT doc_id, term, count(*) AS tf FROM toks
         |      WHERE term <> '' GROUP BY 1,2),
         |dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM t GROUP BY 1),
         |dfreq AS (SELECT term, count(*) AS df FROM t GROUP BY 1),
         |g AS (SELECT count(*) AS n_docs,
         |        (SELECT CAST(sum(dl) AS BIGINT) FROM dl) AS tot
         |      FROM documents),
         |bs AS (SELECT t.doc_id,
         |         CAST(sum(((g.n_docs * 1000) // dfreq.df) *
         |           ((t.tf * 44 * g.tot * 1000) //
         |            (20 * t.tf * g.tot + 6 * g.tot + 18 * dl.dl * g.n_docs)))
         |           AS BIGINT) AS score
         |       FROM t JOIN dfreq USING (term) JOIN dl USING (doc_id)
         |       CROSS JOIN g
         |       WHERE list_contains($terms, t.term) AND t.doc_id != 0
         |       GROUP BY t.doc_id),
         |ra AS (SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id)
         |         AS bm25_rank FROM bs WHERE score > 0),
         |cs AS (SELECT e.vec_id AS doc_id,
         |         round(${SimilarityQueries.duckCos("e.embedding", "q.embedding")}, 6)
         |           AS cos_sim
         |       FROM embeddings e JOIN embeddings q ON q.vec_id = 0
         |       WHERE e.vec_id != 0),
         |rb AS (SELECT doc_id, row_number() OVER (ORDER BY cos_sim DESC, doc_id)
         |         AS cos_rank FROM cs)
         |SELECT rb.doc_id,
         |       coalesce(ra.bm25_rank, -1)::BIGINT AS bm25_rank,
         |       rb.cos_rank::BIGINT AS cos_rank,
         |       (coalesce(1000000 // ($RrfK + ra.bm25_rank), 0) +
         |        (1000000 // ($RrfK + rb.cos_rank)))::BIGINT AS rrf
         |FROM rb LEFT JOIN ra USING (doc_id)
         |ORDER BY rrf DESC, rb.doc_id LIMIT 20""".stripMargin
    }) { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val emb = Tables.embeddings(s, dir)
      // ---- BM25 leg: x38's integer score, query terms only ----
      val t = docs
        .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
        .filter(col("term") =!= "")
        .groupBy(col("doc_id"), col("term"))
        .agg(count(lit(1)).as("tf"))
      val dl = t.groupBy(col("doc_id"))
        .agg(sum(col("tf")).cast("bigint").as("dl"))
      val dfreq = t.groupBy(col("term")).agg(count(lit(1)).as("df"))
      val g = broadcast(docs.agg(count(lit(1)).as("n_docs"))
        .crossJoin(dl.agg(sum(col("dl")).cast("bigint").as("tot"))))
      val bs = t.filter(col("term").isin(RrfQueryTerms: _*) &&
          col("doc_id") =!= 0)
        .join(dfreq, Seq("term")).join(dl, Seq("doc_id")).crossJoin(g)
        .withColumn("sc",
          expr("((n_docs * 1000) div df) * ((tf * 44 * tot * 1000) div " +
            "(20 * tf * tot + 6 * tot + 18 * dl * n_docs))"))
        .groupBy(col("doc_id"))
        .agg(sum(col("sc")).cast("bigint").as("score"))
      val ra = bs.filter(col("score") > 0)
        .withColumn("bm25_rank",
          row_number().over(Window.orderBy(col("score").desc, col("doc_id"))))
        .select(col("doc_id"), col("bm25_rank"))
      // ---- dense leg: exact cosine vs doc 0's embedding ----
      val q = broadcast(emb.filter(col("vec_id") === 0)
        .select(col("embedding").as("q_emb")))
      val rb = emb.filter(col("vec_id") =!= 0).crossJoin(q)
        .select(col("vec_id").as("doc_id"),
          round(expr("graft_cosine(embedding, q_emb)"), 6).as("cos_sim"))
        .withColumn("cos_rank",
          row_number().over(Window.orderBy(col("cos_sim").desc, col("doc_id"))))
        .select(col("doc_id"), col("cos_rank"))
      // ---- fusion ----
      rb.join(ra, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("bm25_rank"), lit(-1)).cast("long").as("bm25_rank"),
          col("cos_rank").cast("long").as("cos_rank"),
          (coalesce(expr(s"1000000 div ($RrfK + bm25_rank)"), lit(0L)) +
            expr(s"1000000 div ($RrfK + cos_rank)")).cast("long").as("rrf"))
        .orderBy(col("rrf").desc, col("doc_id"))
        .limit(20)
    },

    // size-weighted πps sampling — sequential Poisson sampling
    // (Ohlsson 1998): priority = u/w with u the portable 60-bit hash
    // folded to 30 bits (so the IEEE-double division is exact-rational
    // in range and bit-identical on both engines) and w the document's
    // char length; the K smallest priorities are the sample. Inclusion
    // probability is ∝ w for small sampling fractions — the standard
    // way to sample a corpus proportional to token mass WITHOUT an RNG:
    // membership is a pure function of doc_id, stable under reruns,
    // repartitioning, and engine choice. Scale shape: narrow map +
    // TakeOrderedAndProject (per-partition top-K heaps, K·partitions
    // rows to the driver-side final merge — never a global sort).
    "x46_weighted_sample" -> QueryDef(
      s"""WITH s AS (SELECT doc_id, source,
         |  greatest(length(text), 1) AS w,
         |  ('0x'||substr(md5('$WSampleSeed|'||CAST(doc_id AS VARCHAR)),1,15))::BIGINT
         |    % 1073741824 AS u
         |  FROM documents)
         |SELECT doc_id, source, w,
         |       CAST(u AS DOUBLE) / w AS priority
         |FROM s
         |ORDER BY priority, doc_id LIMIT $WSampleK""".stripMargin) { (s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"), col("source"),
          greatest(length(col("text")), lit(1)).cast("long").as("w"),
          expr(s"element_at(graft_hash60_array(array(CAST(doc_id AS STRING)), $WSampleSeed), 1) % 1073741824")
            .as("u"))
        .select(col("doc_id"), col("source"), col("w"),
          (col("u").cast("double") / col("w")).as("priority"))
        .orderBy(col("priority"), col("doc_id"))
        .limit(WSampleK)
    }
  )
}
