package graft.queries

import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.TextAnalysis
import graft.multimodal.Multimodal

/** [EXT] Text-analysis + multimodal query surface over `documents`.
  * Oracle SQL mirrors every heuristic constant (marker lists, weights,
  * token patterns, hash base/modulus) — generated from the same Scala
  * values so the two sides cannot drift.
  */
object TextQueries {

  import TextAnalysis._

  private def duckList(xs: Seq[String]): String =
    xs.map(s => s"'$s'").mkString("[", ",", "]")

  /** Hash seed for the x48 bigram-LM token space (independent of the
    * substring-dedup (0), packing (11) and πps-sample (23) seeds). */
  val LmSeed = 29

  /** x65 per-source retention target: keep the best 30% by quality. */
  val PruneKeepPermille = 300

  /** x71 link-rank constants — the q94 integer-PageRank discipline
    * (ranks in 10⁻¹² units, damping 85/100, base (1−d)·scale) applied
    * to the REAL crawl graph x70 extracts. 3 iterations: enough for
    * in-link mass to propagate two hops, and the oracle unrolls one
    * CTE join per iteration. */
  private val LrIters = 3
  private val LrScale = 1000000000000L
  private val LrBase = 150000000000L

  /** x69's synthetic HTML shell around each document — ONE SQL
    * fragment evaluated verbatim by Spark and DuckDB (concat and CAST
    * … AS STRING parse in both), so the extraction input is identical
    * by construction. Shell parts exercise every contract feature:
    * style + script bodies are LONGER than the boilerplate threshold
    * (a block-elision bug becomes extra surviving lines, not silence),
    * the nav/footer/title are shorter (a boilerplate-filter bug keeps
    * them), the entity paragraph covers all six named entities
    * including the decode-order-sensitive `&amp;`, and the numeric
    * paragraph (r16) covers decimal/hex/em-dash refs, the one-level
    * `&amp;#88;` rule, and the invalid forms (`&#;`, `&#x;`, overflow,
    * surrogate, NUL, unterminated) that must stay literal. */
  /** x70's anchor-laden shell: link counts VARY by doc (2–5 internal
    * links, one duplicated, one mixed-case `HREF`, one SINGLE-QUOTED,
    * one UNQUOTED with spaces around `=` (the r16 contract widening),
    * plus an external link the edge parse must exclude); targets are
    * `(doc_id·a + b) mod n` with `n` = max(doc_id)+1 provided as a
    * column, so every edge lands on a real document at any SF. One
    * fragment, both engines (both parse `''` as an escaped quote). */
  val LinkWrapFrag: String =
    "concat('<html><body><p>', text, '</p>', " +
      "'<a href=\"/doc/', CAST((doc_id * 7 + 1) % n AS STRING), '\">related article</a>', " +
      "CASE WHEN doc_id % 2 = 0 THEN concat('<a class=\"side\" HREF=\"/doc/', CAST((doc_id * 13 + 5) % n AS STRING), '\">side <b>bar</b> &amp; more &#38; co</a>') ELSE '' END, " +
      "'<a name=\"bk\">plain bookmark anchor with no href at all</a>', " +
      "CASE WHEN doc_id % 3 = 0 THEN concat('<a href=\"/doc/', CAST((doc_id * 7 + 1) % n AS STRING), '\">same target again</a>') ELSE '' END, " +
      "CASE WHEN doc_id % 5 = 0 THEN concat('<a href=''/doc/', CAST((doc_id * 3 + 2) % n AS STRING), '''>single quoted</a>') ELSE '' END, " +
      "'<a href = /doc/', CAST((doc_id * 11 + 4) % n AS STRING), '>unquoted spaced</a>', " +
      "'<a href=\"https://example.com/about\">external</a>', " +
      "'</body></html>')"

  val HtmlWrapFrag: String =
    "concat('<html><head><title>Doc ', CAST(doc_id AS STRING), " +
      "'</title><style>body { color: red; margin: 0 auto; padding: 12px; }</style>', " +
      "'<script type=\"text/javascript\">var x = 1; if (x < 2) { x = 3; } run(x);</script>', " +
      "'</head><body><div class=\"nav\">Home | About | Contact</div>', " +
      "'<h1>Doc title ', CAST(doc_id AS STRING), '</h1>', " +
      "'<p>', text, '</p>', " +
      "'<p>Tom &amp; Jerry &lt;3 the &quot;daily&nbsp;menu&quot; &gt; yesterdays special at the cafe</p>', " +
      "'<p>Numeric refs: &#84;om and &#x4A;erry&#8212;it&#39;s decoded; &amp;#88; stays one level; invalid &#; &#x; &#1114112; &#xD800; &#0; &#12 forms stay literal</p>', " +
      "'<div class=\"footer\">(c) 2024 Example Corp</div></body></html>')"

  /** DuckDB mirror of langPred's score-and-argmax CASE chain. */
  private val duckLangPred: String = {
    val scores = LangMarkers.map { case (lang, markers) =>
      lang -> s"len(list_intersect(string_split(text,' '), ${duckList(markers)}))"
    }
    val branches = scores.map { case (lang, s) =>
      val geAll = scores.filter(_._1 != lang)
        .map { case (_, o) => s"$s >= $o" }.mkString(" AND ")
      s"WHEN $geAll AND $s > 0 THEN '$lang'"
    }
    s"CASE ${branches.mkString(" ")} ELSE 'und' END"
  }

  private val duckStopRatio: String =
    s"len(list_filter(string_split(text,' '), w -> list_contains(${duckList(QualityStopwords)}, w)))::DOUBLE / len(string_split(text,' '))"

  private val duckDigitRatio: String =
    "length(regexp_replace(text, '[^0-9]', '', 'g'))::DOUBLE / length(text)"

  /** The x12 composite quality score as one reusable fragment
    * (`private[queries]`: DedupQueries' keep-best survivorship ranks
    * duplicate-cluster members by it). Mirrors
    * [[graft.functions.TextAnalysis.qualityScore]] term order. */
  private[queries] val duckQuality: String =
    s"""round(0.4 * ($duckStopRatio) +
       |      0.3 * least(len(string_split(text,' '))::DOUBLE / 100.0, 1.0) +
       |      0.3 * (1.0 - ($duckDigitRatio)), 6)""".stripMargin

  /** Merge rules the x47/x49 surface learns (and their oracles unroll). */
  val BpeRounds = 8

  /** DuckDB mirror of the [[graft.operators.BpeTrain]] pipeline: word
    * counts, code-point symbol arrays, then `rounds` UNROLLED CTE
    * layers (the q94 pagerank idiom — the trained rules are corpus
    * data, so the SQL must COMPUTE each round, not embed literals).
    * Each layer k is:
    *   p_k  pair frequencies over adjacent symbol positions,
    *   t_k  the argmax pair under the same (freq DESC, l, r) total
    *        order as BpeTrain (binary string comparison on both
    *        engines = code-point order),
    *   m/g/a/e_k  the strict LEFTMOST NON-OVERLAPPING merge, which a
    *        string replace() gets wrong on repeated-symbol runs but is
    *        exactly expressible positionally: candidate positions
    *        (s[i],s[i+1])=(l,r) can only be consecutive when l=r, and
    *        the greedy scan keeps a candidate iff its 0-based offset
    *        within its maximal consecutive-candidate run is even — a
    *        gaps-and-islands group (running count of non-candidates)
    *        plus a parity test; consumed positions (predecessor
    *        active) drop, active positions emit l||r via lead(s),
    *   v_k  the re-assembled symbol arrays.
    * Validated cell-for-cell against an independent Python
    * implementation of the BpeKernels scan on sf0.01 before shipping
    * (all 8 rules and all 500 encode rows identical). */
  private def bpeVocabCtes(rounds: Int): String = {
    val head = """WITH w AS (
      |  SELECT word, count(*)::BIGINT AS cnt FROM (
      |    SELECT unnest(string_split(text, ' ')) AS word FROM documents)
      |  WHERE length(word) > 0 GROUP BY word
      |),
      |v0 AS (
      |  SELECT word, cnt,
      |    list_transform(range(1, length(word)+1),
      |                   i -> substr(word, i, 1)) AS syms
      |  FROM w
      |)""".stripMargin
    val layers = (1 to rounds).map { k =>
      s"""p$k AS (
         |  SELECT syms[i] AS l, syms[i+1] AS r, sum(cnt)::BIGINT AS freq
         |  FROM v${k - 1}, unnest(range(1, len(syms))) AS u(i)
         |  GROUP BY 1, 2
         |),
         |t$k AS (SELECT l, r, freq FROM p$k ORDER BY freq DESC, l, r LIMIT 1),
         |m$k AS (
         |  SELECT v.word, v.cnt, u.i, v.syms[u.i] AS s,
         |    (u.i < len(v.syms) AND v.syms[u.i] = t.l
         |      AND v.syms[u.i+1] = t.r) AS cand
         |  FROM v${k - 1} v CROSS JOIN t$k t,
         |    unnest(range(1, len(v.syms)+1)) AS u(i)
         |),
         |g$k AS (
         |  SELECT word, cnt, i, s, cand,
         |    sum(CASE WHEN cand THEN 0 ELSE 1 END)
         |      OVER (PARTITION BY word ORDER BY i) AS grp
         |  FROM m$k
         |),
         |a$k AS (
         |  SELECT word, cnt, i, s, cand AND
         |    (i - min(CASE WHEN cand THEN i END)
         |           OVER (PARTITION BY word, grp)) % 2 = 0 AS active
         |  FROM g$k
         |),
         |e$k AS (
         |  SELECT word, cnt, i, s, active,
         |    lag(active) OVER (PARTITION BY word ORDER BY i) AS prev_active,
         |    lead(s) OVER (PARTITION BY word ORDER BY i) AS next_s
         |  FROM a$k
         |),
         |v$k AS (
         |  SELECT word, cnt,
         |    list(CASE WHEN active THEN s || next_s ELSE s END
         |         ORDER BY i) AS syms
         |  FROM e$k
         |  WHERE NOT coalesce(prev_active, false)
         |  GROUP BY word, cnt
         |)""".stripMargin
    }.mkString(",\n")
    head + ",\n" + layers
  }

  /** x47 oracle: the `rounds` learned rules — one row per t_k layer.
    * Assumes the corpus supports `rounds` merges (the fixtures do by
    * orders of magnitude; BpeTrain stops early on exhaustion, which
    * would be a row-count mismatch, i.e. loudly red, not silently
    * green). */
  private def bpeRulesOracle(rounds: Int): String =
    bpeVocabCtes(rounds) + "\n" + (1 to rounds).map { k =>
      s"""SELECT $k::INT AS step, l AS "left", r AS "right",
         |  l || r AS merged, freq FROM t$k""".stripMargin
    }.mkString("\nUNION ALL\n")

  /** x49 oracle: per-doc encode stats off the FINAL vocab layer — a
    * word seen in training encodes to exactly its trained symbol
    * array, so n_tokens is a join against len(v_rounds.syms) and
    * n_symbols is the word's code-point length (= len(v0.syms)). */
  private def bpeEncodeOracle(rounds: Int): String =
    bpeVocabCtes(rounds) + s""",
      |dw AS (
      |  SELECT doc_id, word FROM (
      |    SELECT doc_id, unnest(string_split(text, ' ')) AS word
      |    FROM documents)
      |  WHERE length(word) > 0
      |)
      |SELECT d.doc_id, count(*)::BIGINT AS n_words,
      |  sum(length(d.word))::BIGINT AS n_symbols,
      |  sum(len(v.syms))::BIGINT AS n_tokens,
      |  ((sum(length(d.word)) - sum(len(v.syms))) * 1000
      |    // sum(length(d.word)))::BIGINT AS saved_permille
      |FROM dw d JOIN v$rounds v USING (word)
      |GROUP BY d.doc_id""".stripMargin

  val defs: Map[String, QueryDef] = Map(

    // capstone curation funnel: exact dedup (keep-first) → language
    // filter → quality filter → surviving-corpus stats, i.e. the whole
    // training-data pipeline as ONE declarative plan — every stage is an
    // operator already verified in isolation (x02, x11, x12, x13)
    "x23_curation_pipeline" -> QueryDef(
      s"""WITH kept AS (SELECT min(doc_id) AS doc_id
         |              FROM documents GROUP BY md5(text)),
         |f AS (SELECT d.* FROM documents d JOIN kept USING (doc_id)
         |      WHERE ($duckLangPred) = 'en'
         |        AND ($duckQuality) >= 0.5)
         |SELECT source, count(*) AS n_docs,
         |  sum(len(string_split(text,' ')))::BIGINT AS total_tokens
         |FROM f GROUP BY source""".stripMargin) { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val kept = docs.groupBy(md5(col("text")))
        .agg(min(col("doc_id")).as("doc_id"))
        .select(col("doc_id"))
      docs.join(kept, Seq("doc_id"))
        .filter(langPred(col("text")) === "en" &&
          qualityScore(col("text")) >= 0.5)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(wsTokens(col("text"))).as("total_tokens"))
    },

    // PII scrubbing — the privacy pass every shipped corpus needs:
    // emails and URLs masked with typed placeholders, per-doc match
    // counts kept for audit. The fixture text has no PII, so each doc
    // gets a DETERMINISTIC injected email+URL (closed forms of doc_id,
    // built identically by both engines) — the scrub then verifiably
    // fires on every row instead of trivially no-opping. Patterns are
    // backslash-free (char-class dot) so Java regex and DuckDB RE2
    // match identically.
    "x33_pii_scrub" -> QueryDef({
      val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}"
      val url = "https?://[A-Za-z0-9./_-]+"
      s"""WITH t AS (SELECT doc_id,
         |  text || ' contact user' || doc_id ||
         |  '@example.com via https://ex.org/d/' || doc_id AS text2
         |  FROM documents)
         |SELECT doc_id,
         |  len(regexp_extract_all(text2, '$email'))::BIGINT AS n_emails,
         |  len(regexp_extract_all(text2, '$url'))::BIGINT AS n_urls,
         |  md5(regexp_replace(regexp_replace(text2, '$email', '<EMAIL>', 'g'),
         |      '$url', '<URL>', 'g')) AS scrubbed_md5
         |FROM t""".stripMargin
    }) { (s, dir) =>
      val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}"
      val url = "https?://[A-Za-z0-9./_-]+"
      Tables.documents(s, dir)
        .repartition(s.sparkContext.defaultParallelism)
        .withColumn("text2",
          concat(col("text"), lit(" contact user"), col("doc_id"),
            lit("@example.com via https://ex.org/d/"), col("doc_id")))
        .select(col("doc_id"),
          expr(s"size(regexp_extract_all(text2, '$email', 0))")
            .cast("long").as("n_emails"),
          expr(s"size(regexp_extract_all(text2, '$url', 0))")
            .cast("long").as("n_urls"),
          md5(regexp_replace(regexp_replace(col("text2"), email, "<EMAIL>"),
            url, "<URL>")).as("scrubbed_md5"))
    },

    // text normalization: lowercase → strip non-alphanumerics →
    // collapse/trim whitespace; the canonical form feeding exact dedup.
    // Both engines replace globally (DuckDB needs the explicit 'g').
    "x20_normalize" -> QueryDef(
      """WITH n AS (SELECT source,
        |  trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
        |       ' +', ' ', 'g')) AS norm
        |  FROM documents)
        |SELECT source, count(DISTINCT md5(norm)) AS n_unique_norm,
        |  sum(length(norm))::BIGINT AS total_len
        |FROM n GROUP BY source""".stripMargin) { (s, dir) =>
      Tables.documents(s, dir)
        .select(col("source"),
          trim(regexp_replace(
            regexp_replace(lower(col("text")), "[^a-z0-9 ]", ""),
            " +", " ")).as("norm"))
        .groupBy(col("source"))
        .agg(countDistinct(md5(col("norm"))).as("n_unique_norm"),
          sum(length(col("norm"))).as("total_len"))
    },

    // language ID: marker-hit argmax, confusion matrix vs the label
    "x11_langid" -> QueryDef(
      s"""SELECT lang, $duckLangPred AS lang_pred, count(*) AS n
         |FROM documents GROUP BY lang, lang_pred""".stripMargin) { (s, dir) =>
      Tables.documents(s, dir)
        .select(col("lang"), langPred(col("text")).as("lang_pred"))
        .groupBy(col("lang"), col("lang_pred"))
        .agg(count(lit(1)).as("n"))
    },

    // quality scoring: ratio features + fixed-weight composite
    "x12_quality_score" -> QueryDef(
      s"""SELECT doc_id,
         |  len(string_split(text,' ')) AS n_words,
         |  round($duckStopRatio, 6) AS stop_ratio,
         |  ($duckQuality) AS quality
         |FROM documents""".stripMargin) { (s, dir) =>
      Tables.documents(s, dir).select(
        col("doc_id"),
        wsTokens(col("text")).as("n_words"),
        round(stopwordRatio(col("text")), 6).as("stop_ratio"),
        qualityScore(col("text")).as("quality"))
    },

    // per-source quality-quantile pruning — the adaptive retention op
    // (FineWeb/DCLM shape: keep each domain's best ~30% by quality
    // score, NOT one global threshold — a global cut empties clean-but-
    // different domains and keeps a dirty domain's worst). Exactness at
    // scale comes from quantizing the 6dp score to permille FIRST: the
    // per-source quantile then reads off a (source, qp) HISTOGRAM of
    // ≤ 1001 buckets per source — the cumulative window runs over that
    // tiny aggregate, never a per-source sort of the corpus (the
    // approx-sketch alternative would break cross-engine hash parity).
    // threshold = largest qp whose ≥-mass still covers ceil(30% · n);
    // keeping the whole boundary bucket makes retention deterministic
    // and ≥ the target without a tiebreak.
    // Everything after the histogram is DERIVED FROM the histogram:
    // n_docs = Σc per source, and n_kept (the ≥-threshold tail mass)
    // IS the n_ge of the threshold row — the min n_ge among qualifying
    // buckets, since n_ge shrinks as qp grows. So the corpus is scanned
    // exactly once (the quality expression is the dominant per-row
    // cost; a rejoin-the-corpus formulation would evaluate it twice).
    "x65_quality_prune" -> QueryDef(
      s"""WITH h AS (SELECT source,
         |    CAST(floor(($duckQuality) * 1000) AS BIGINT) AS qp,
         |    count(*) AS c
         |  FROM documents GROUP BY 1, 2),
         |n AS (SELECT source, CAST(sum(c) AS BIGINT) AS n_docs
         |      FROM h GROUP BY source),
         |cum AS (SELECT source, qp,
         |    sum(c) OVER (PARTITION BY source ORDER BY qp DESC) AS n_ge
         |  FROM h)
         |SELECT cum.source, n.n_docs,
         |  max(cum.qp) AS threshold_permille,
         |  CAST(min(cum.n_ge) AS BIGINT) AS n_kept
         |FROM cum JOIN n ON n.source = cum.source
         |WHERE cum.n_ge >= (n.n_docs * $PruneKeepPermille + 999) // 1000
         |GROUP BY 1, 2""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val h = Tables.documents(s, dir)
        .groupBy(col("source"),
          floor(qualityScore(col("text")) * 1000).cast("bigint").as("qp"))
        .agg(count(lit(1)).as("c"))
      val n = h.groupBy(col("source")).agg(sum(col("c")).cast("bigint")
        .as("n_docs"))
      val cum = h.withColumn("n_ge", sum(col("c")).over(
        Window.partitionBy(col("source")).orderBy(col("qp").desc)))
      cum.join(n, Seq("source"))
        .filter(col("n_ge") >=
          expr(s"(n_docs * $PruneKeepPermille + 999) div 1000"))
        .groupBy(col("source"), col("n_docs"))
        .agg(max(col("qp")).as("threshold_permille"),
          min(col("n_ge")).cast("bigint").as("n_kept"))
    },

    // token counting: whitespace + regex token classes, per source
    "x13_token_count" -> QueryDef(
      s"""SELECT source,
         |  sum(len(string_split(text,' ')))::BIGINT AS ws_tokens,
         |  sum(len(regexp_extract_all(text, '$TokenPattern')))::BIGINT AS re_tokens,
         |  count(*) AS n_docs
         |FROM documents GROUP BY source""".stripMargin) { (s, dir) =>
      Tables.documents(s, dir)
        .groupBy(col("source"))
        .agg(sum(wsTokens(col("text"))).as("ws_tokens"),
          sum(regexTokens(col("text"))).as("re_tokens"),
          count(lit(1)).as("n_docs"))
    },

    // rolling-hash document fingerprint (exact integer fold)
    "x14_fingerprint" -> QueryDef(
      s"""SELECT doc_id,
         |  list_reduce(list_prepend(0::BIGINT, [ord(c)::BIGINT for c in string_split(text,'')]),
         |    (acc, c) -> (acc * 31 + c) % $FpMod) AS fp
         |FROM documents""".stripMargin) { (s, dir) =>
      Tables.documents(s, dir)
        .repartition(s.sparkContext.defaultParallelism)
        .select(col("doc_id"), fingerprint("text").as("fp"))
    },

    // multimodal: binary PNG payload → REAL javax.imageio decode →
    // (width, height, per-channel mean) features, per-partition. The
    // payloads are synthetic solid-color PNGs whose dimensions and RGB
    // are closed forms of doc_id (Multimodal.syntheticPng), so the
    // oracle predicts the DECODED values arithmetically — the query
    // verifies an actual JDK PNG encode→decode round-trip against first
    // principles. Solid-color channel means are exact integers; the
    // fallback (decoded=false) never fires here because every payload
    // is a valid PNG — MultimodalSpec covers the corrupt-payload path.
    "x15_multimodal_features" -> QueryDef(
      """SELECT doc_id, TRUE AS decoded,
        |  (1 + doc_id % 16)::INT AS width,
        |  (1 + doc_id % 8)::INT AS height,
        |  (doc_id % 256)::DOUBLE AS mean_r,
        |  ((doc_id * 7) % 256)::DOUBLE AS mean_g,
        |  ((doc_id * 13) % 256)::DOUBLE AS mean_b
        |FROM documents""".stripMargin) { (s, dir) =>
      Multimodal.extractImageFeatures(s, Tables.documents(s, dir)).toDF()
    },

    // audio analogue of x15: synthetic 8kHz mono u8 PCM WAVs with
    // closed-form frame count and amplitude, decoded for REAL through
    // the JDK's javax.sound.sampled — header metadata and mean
    // amplitude verified against the generator's arithmetic.
    "x31_audio_features" -> QueryDef(
      """SELECT doc_id, TRUE AS decoded,
        |  (100 + doc_id % 100)::BIGINT AS n_frames,
        |  8000.0::DOUBLE AS sample_rate,
        |  1 AS channels,
        |  (doc_id % 256)::DOUBLE AS mean_amp
        |FROM documents""".stripMargin) { (s, dir) =>
      Multimodal.extractAudioFeatures(s, Tables.documents(s, dir)).toDF()
    },

    // frame sampling: k-th-position probes into the binary payload
    "x16_frame_sample" -> QueryDef(
      """SELECT doc_id,
        |  ord(substr(text, 1, 1)) AS f0,
        |  ord(substr(text, greatest(length(text) // 4, 1), 1)) AS f1,
        |  ord(substr(text, greatest(length(text) // 2, 1), 1)) AS f2,
        |  ord(substr(text, greatest((3 * length(text)) // 4, 1), 1)) AS f3
        |FROM documents""".stripMargin) { (s, dir) =>
      def frameAt(posSql: String) =
        expr(s"ascii(substring(text, $posSql, 1))")
      Tables.documents(s, dir).select(
        col("doc_id"),
        frameAt("1").as("f0"),
        frameAt("greatest(length(text) div 4, 1)").as("f1"),
        frameAt("greatest(length(text) div 2, 1)").as("f2"),
        frameAt("greatest((3 * length(text)) div 4, 1)").as("f3"))
    },

    // TF-IDF top-terms per document: the relevance-scoring primitive
    // behind corpus search / keyword extraction / quality filtering.
    // Classic shape, all scale-safe: term frequencies are ONE hash
    // aggregate over the exploded corpus, document frequencies ONE
    // more over its (doc, term) output, and the tf×idf join shuffles
    // on term (the vocabulary is corpus-scale — never broadcast).
    // Scoring stays in INTEGER arithmetic — tf · ((N·10⁶) div df), a
    // monotone transform of tf·(N/df) — because ln()-based idf last-
    // ulp differences between libm and DuckDB would break the hash
    // compare (the same discipline as x26's Jaccard estimate).
    // Top-3 per doc via a bounded per-doc window (unbounded-group
    // corpora would swap in plans/GroupTopK); ties broken by term.
    "x36_tfidf_topterms" -> QueryDef(
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |  FROM documents),
        |t AS (SELECT doc_id, term, count(*) AS tf FROM toks
        |      WHERE term <> '' GROUP BY 1, 2),
        |dfreq AS (SELECT term, count(*) AS df FROM t GROUP BY 1),
        |n AS (SELECT count(*) AS n_docs FROM documents)
        |SELECT doc_id, rn, term, score FROM (
        |  SELECT s.doc_id, s.term, s.score,
        |    row_number() OVER (PARTITION BY s.doc_id
        |                       ORDER BY s.score DESC, s.term) AS rn
        |  FROM (SELECT t.doc_id, t.term,
        |          t.tf * ((n.n_docs * 1000000) // dfreq.df) AS score
        |        FROM t JOIN dfreq USING (term) CROSS JOIN n) s)
        |WHERE rn <= 3 ORDER BY doc_id, rn""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(s, dir)
      val t = docs
        .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
        .filter(col("term") =!= "")
        .groupBy(col("doc_id"), col("term"))
        .agg(count(lit(1)).as("tf"))
      val dfreq = t.groupBy(col("term")).agg(count(lit(1)).as("df"))
      val nDocs = broadcast(docs.agg(count(lit(1)).as("n_docs")))
      val w = Window.partitionBy(col("doc_id"))
        .orderBy(col("score").desc, col("term"))
      t.join(dfreq, Seq("term")).crossJoin(nDocs)
        .withColumn("score", expr("tf * ((n_docs * 1000000) div df)"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("doc_id"), col("rn"), col("term"), col("score"))
        .orderBy(col("doc_id"), col("rn"))
    },

    // BM25 top-terms: x36 plus the part that makes modern ranking
    // work — saturating tf and document-length normalization
    // (k1 = 6/5, b = 3/4). The whole score is SCALED RATIONAL integer
    // arithmetic: with T = total corpus tokens, N docs, dl the doc's
    // length, the classic tf·(k1+1)/(tf + k1(1−b+b·dl/avgdl)) becomes
    //   inner = (tf·44·T·1000) div (20·tf·T + 6·T + 18·dl·N)
    // (substituting avgdl = T/N and clearing denominators), and idf is
    // x36's monotone rational surrogate at 10³ scale. Everything stays
    // well under BIGINT at sf1 geometry (≤4.4·10¹⁴ intermediate), and
    // both engines floor-divide positive integers identically — the
    // same cross-engine-exactness discipline as x36, with ranking
    // behavior (rare terms up, long docs damped) fully preserved.
    // Plan shape: the doc-length table is a second aggregate joined
    // back on doc_id; everything else matches x36.
    "x38_bm25_topterms" -> QueryDef(
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |  FROM documents),
        |t AS (SELECT doc_id, term, count(*) AS tf FROM toks
        |      WHERE term <> '' GROUP BY 1, 2),
        |dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM t
        |       GROUP BY 1),
        |dfreq AS (SELECT term, count(*) AS df FROM t GROUP BY 1),
        |g AS (SELECT count(*) AS n_docs,
        |        (SELECT CAST(sum(dl) AS BIGINT) FROM dl) AS tot
        |      FROM documents)
        |SELECT doc_id, rn, term, score FROM (
        |  SELECT s.doc_id, s.term, s.score,
        |    row_number() OVER (PARTITION BY s.doc_id
        |                       ORDER BY s.score DESC, s.term) AS rn
        |  FROM (SELECT t.doc_id, t.term,
        |          ((g.n_docs * 1000) // dfreq.df) *
        |          ((t.tf * 44 * g.tot * 1000) //
        |           (20 * t.tf * g.tot + 6 * g.tot + 18 * dl.dl * g.n_docs))
        |            AS score
        |        FROM t JOIN dfreq USING (term) JOIN dl USING (doc_id)
        |        CROSS JOIN g) s)
        |WHERE rn <= 3 ORDER BY doc_id, rn""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(s, dir)
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
      val w = Window.partitionBy(col("doc_id"))
        .orderBy(col("score").desc, col("term"))
      t.join(dfreq, Seq("term")).join(dl, Seq("doc_id")).crossJoin(g)
        .withColumn("score",
          expr("((n_docs * 1000) div df) * ((tf * 44 * tot * 1000) div " +
            "(20 * tf * tot + 6 * tot + 18 * dl * n_docs))"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("doc_id"), col("rn"), col("term"), col("score"))
        .orderBy(col("doc_id"), col("rn"))
    },

    // ---- x44: quality-filter funnel with per-reason attribution ------
    // The audit view every corpus filter ships with: each document is
    // attributed to its FIRST failing rule (too_short → lang_und →
    // low_quality → pass; the CASE chain makes attribution exclusive,
    // so funnel counts sum to the corpus), rolled up per source with
    // the per-source share. x23 applies this filter; x44 explains it —
    // which sources lose how much, and to which rule. One scan, all
    // rules expression-level over the verified x11/x12 features, one
    // map-side-combined hash aggregate; the share window runs over the
    // |sources|×|reasons| aggregate (tiny at any corpus scale).
    "x44_filter_funnel" -> QueryDef(
      s"""WITH c AS (SELECT source,
         |  CASE WHEN len(string_split(text,' ')) < 30 THEN 'too_short'
         |       WHEN ($duckLangPred) = 'und' THEN 'lang_und'
         |       WHEN ($duckQuality) < 0.5
         |         THEN 'low_quality'
         |       ELSE 'pass' END AS reason
         |  FROM documents)
         |SELECT source, reason, count(*) AS n,
         |  round(count(*)::DOUBLE /
         |    sum(count(*)) OVER (PARTITION BY source), 6) AS share
         |FROM c GROUP BY source, reason""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val reason = when(wsTokens(col("text")) < 30, "too_short")
        .when(langPred(col("text")) === "und", "lang_und")
        .when(qualityScore(col("text")) < 0.5, "low_quality")
        .otherwise("pass")
      Tables.documents(s, dir)
        .select(col("source"), reason.as("reason"))
        .groupBy(col("source"), col("reason"))
        .agg(count(lit(1)).as("n"))
        .withColumn("share",
          round(col("n").cast("double") /
            sum(col("n")).over(Window.partitionBy(col("source"))), 6))
    },

    // distributed BPE tokenizer-vocabulary induction (Sennrich et al.,
    // 2016) — learn the first merge rules of a tokenizer ON the corpus:
    // word counts once, then per-round pair-frequency aggregate + top-1
    // + codegen'd strict-leftmost merge over the distinct-word table
    // (see operators/BpeTrain). Oracle-checked since r12 (the r11
    // verdict's stretch item): the sequential leftmost-non-overlapping
    // merge is not expressible as a string replace(), but it IS
    // expressible positionally — [[bpeVocabCtes]] unrolls the 8 rounds
    // as generated CTE layers (the q94 pagerank idiom) with a
    // gaps-and-islands parity pass standing in for the greedy scan.
    // BpeSpec additionally keeps the independent brute-force
    // rule-for-rule parity on the real corpus plus adversarial
    // run/overlap cases and a repartitioning-invariance check.
    "x47_bpe_merges" -> QueryDef(bpeRulesOracle(BpeRounds)) { (s, dir) =>
      graft.operators.BpeTrain.trainOnText(
        s, Tables.documents(s, dir), "text", rounds = BpeRounds)
    },

    // BPE ENCODE — the inference half of x47: replay the learned merge
    // rules over every document (rule order, strict leftmost — the
    // same kernel tier training used) and report per-doc token counts
    // + the integer per-mille compression the vocabulary buys. The
    // whole rule chain folds into one nested codegen projection; no
    // per-rule shuffle, no vocabulary broadcast. Oracle since r12: the
    // per-word token counts come straight off the final unrolled vocab
    // layer (encode of a word seen in training IS its trained symbol
    // count), joined back to per-doc words.
    "x49_bpe_encode" -> QueryDef(bpeEncodeOracle(BpeRounds)) { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val words = docs
        .select(explode(split(col("text"), " ")).as("word"))
        .filter(length(col("word")) > 0)
        .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
      val rules = graft.operators.BpeTrain.train(s, words, rounds = BpeRounds)
      graft.operators.BpeTrain.encodeStats(docs, "text", rules)
    },

    // corpus-LM quality score — the CCNet/Gopher "perplexity filter"
    // re-expressed so the oracle can reproduce it BIT-EXACTLY: an
    // add-one-smoothed bigram model is trained on the corpus itself and
    // scored back over every document as the integer-floored average
    // next-token probability in 10⁻¹² units (higher = more typical
    // text; boilerplate scores high, lorem-noise scores low). Real
    // perplexity exponentiates a float log-sum that no two engines
    // round identically — the scaled-rational mean probability is the
    // same monotone quality axis with none of the float divergence
    // (the x36/x38 discipline).
    //
    // Scale shape: tokens fold to portable 60-bit hashes inside the
    // scan stage (the substring-dedup/x40 trick), so the two model
    // shuffles — the bigram table and the history table — carry 8-byte
    // keys, and scoring is two hash joins back on those keys. The
    // vocabulary size V crosses the plan as ONE broadcast row; the
    // vocabulary itself is never collected or broadcast. At 100 TB the
    // (cb+1)·10¹² numerator wants DECIMAL headroom (bigram counts past
    // ~10⁶ approach BIGINT range); at fixture geometry longs are exact
    // in both engines. Single-token docs have no bigrams: sentinel
    // score −1 (NULL degrades to float64 through the oracle's pandas
    // pull — the q20 trap).
    // REFERENCE-domain LM scoring — the actual CCNet shape (Wenzek et
    // al., 2020 score web text with a WIKIPEDIA-trained LM; x48 scores
    // a corpus with itself): the bigram model trains ONLY on the
    // reference source (src0) and scores every document, and the
    // per-source mean ranks sources by domain shift — the
    // keep/down-weight table a mixture pipeline consumes. Bigrams and
    // histories UNSEEN in training back off through the same add-one
    // formula with zero counts (LEFT joins + coalesce), so scoring
    // stays integer-exact for out-of-domain text. Same 8-byte-key
    // shuffles as x48; the model tables are now reference-sized, not
    // corpus-sized — at 100 TB that is what makes a quality-LM pass
    // affordable (train on the curated GB, score the PB).
    "x50_reference_lm_score" -> QueryDef(
      s"""WITH d AS (SELECT doc_id, source, string_split(text,' ') AS w
         |           FROM documents),
         |pos AS (SELECT doc_id,
         |    unnest([('0x'||substr(md5('$LmSeed|'||w[i]),1,15))::BIGINT
         |            for i in range(1, len(w))]) AS h1,
         |    unnest([('0x'||substr(md5('$LmSeed|'||array_to_string(w[i:i+1],' ')),1,15))::BIGINT
         |            for i in range(1, len(w))]) AS h2
         |  FROM d),
         |tr AS (SELECT p.* FROM pos p JOIN d USING (doc_id)
         |       WHERE d.source = 'src0'),
         |hist AS (SELECT h1, count(*) AS ch FROM tr GROUP BY h1),
         |bg AS (SELECT h1, h2, count(*) AS cb FROM tr GROUP BY h1, h2),
         |vv AS (SELECT count(DISTINCT ('0x'||substr(md5('$LmSeed|'||u),1,15))::BIGINT) AS v
         |       FROM (SELECT unnest(w) AS u FROM d WHERE source = 'src0')),
         |sc AS (SELECT p.doc_id,
         |         (sum((coalesce(bg.cb, 0) + 1) * 1000000000000
         |              // (coalesce(hist.ch, 0) + vv.v))
         |            // count(*)) AS score
         |       FROM pos p LEFT JOIN bg USING (h1, h2)
         |            LEFT JOIN hist USING (h1) CROSS JOIN vv
         |       GROUP BY p.doc_id)
         |SELECT d2.source, count(*)::BIGINT AS n_docs,
         |       (sum(sc.score) // count(*))::BIGINT AS mean_score
         |FROM sc JOIN documents d2 USING (doc_id)
         |GROUP BY d2.source""".stripMargin) { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val toks = docs.select(col("doc_id"), col("source"),
        split(col("text"), " ").as("w"))
      def bigramPos(t: org.apache.spark.sql.DataFrame) = t
        .select(col("doc_id"),
          expr(s"""CASE WHEN size(w) >= 2 THEN
                  |  graft_hash60_array(slice(w, 1, size(w) - 1), $LmSeed)
                  |ELSE array() END""".stripMargin).as("ha"),
          expr(s"""CASE WHEN size(w) >= 2 THEN
                  |  graft_hash60_array(
                  |    transform(sequence(1, size(w) - 1),
                  |      i -> concat(element_at(w, i), ' ',
                  |                  element_at(w, i + 1))),
                  |    $LmSeed)
                  |ELSE array() END""".stripMargin).as("hb"))
        .select(col("doc_id"),
          explode(arrays_zip(col("ha"), col("hb"))).as("z"))
        .select(col("doc_id"), col("z.ha").as("h1"), col("z.hb").as("h2"))
      val pos = bigramPos(toks)
      val tr = bigramPos(toks.filter(col("source") === "src0"))
      val hist = tr.groupBy(col("h1")).agg(count(lit(1)).as("ch"))
      val bg = tr.groupBy(col("h1"), col("h2")).agg(count(lit(1)).as("cb"))
      val vv = broadcast(
        toks.filter(col("source") === "src0")
          .select(explode(expr(s"graft_hash60_array(w, $LmSeed)")).as("h"))
          .agg(countDistinct(col("h")).as("v")))
      val sc = pos
        .join(bg, Seq("h1", "h2"), "left")
        .join(hist, Seq("h1"), "left")
        .crossJoin(vv)
        .groupBy(col("doc_id"))
        .agg(expr(
          """sum(((coalesce(cb, 0L) + 1) * 1000000000000)
            |    div (coalesce(ch, 0L) + v)) div count(1)""".stripMargin)
          .as("score"))
      sc.join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
        .groupBy(col("source"))
        .agg(count(lit(1)).cast("long").as("n_docs"),
          expr("sum(score) div count(1)").cast("long").as("mean_score"))
    },

    "x48_bigram_lm" -> QueryDef(
      s"""WITH d AS (SELECT doc_id, string_split(text,' ') AS w FROM documents),
         |pos AS (SELECT doc_id,
         |    unnest([('0x'||substr(md5('$LmSeed|'||w[i]),1,15))::BIGINT
         |            for i in range(1, len(w))]) AS h1,
         |    unnest([('0x'||substr(md5('$LmSeed|'||array_to_string(w[i:i+1],' ')),1,15))::BIGINT
         |            for i in range(1, len(w))]) AS h2
         |  FROM d),
         |hist AS (SELECT h1, count(*) AS ch FROM pos GROUP BY h1),
         |bg AS (SELECT h1, h2, count(*) AS cb FROM pos GROUP BY h1, h2),
         |vv AS (SELECT count(DISTINCT ('0x'||substr(md5('$LmSeed|'||u),1,15))::BIGINT) AS v
         |       FROM (SELECT unnest(w) AS u FROM d)),
         |sc AS (SELECT p.doc_id, count(*) AS nb,
         |         (sum((bg.cb + 1) * 1000000000000 // (hist.ch + vv.v))
         |            // count(*)) AS score
         |       FROM pos p JOIN bg USING (h1, h2) JOIN hist USING (h1)
         |            CROSS JOIN vv
         |       GROUP BY p.doc_id)
         |SELECT d.doc_id, coalesce(sc.nb, 0)::BIGINT AS n_bigrams,
         |       coalesce(sc.score, -1)::BIGINT AS lm_score
         |FROM d LEFT JOIN sc USING (doc_id)""".stripMargin) { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val toks = docs.select(col("doc_id"), split(col("text"), " ").as("w"))
      val arrs = toks.select(col("doc_id"),
        expr(s"""CASE WHEN size(w) >= 2 THEN
                |  graft_hash60_array(slice(w, 1, size(w) - 1), $LmSeed)
                |ELSE array() END""".stripMargin).as("ha"),
        expr(s"""CASE WHEN size(w) >= 2 THEN
                |  graft_hash60_array(
                |    transform(sequence(1, size(w) - 1),
                |      i -> concat(element_at(w, i), ' ', element_at(w, i + 1))),
                |    $LmSeed)
                |ELSE array() END""".stripMargin).as("hb"))
      val pos = arrs
        .select(col("doc_id"), explode(arrays_zip(col("ha"), col("hb"))).as("z"))
        .select(col("doc_id"), col("z.ha").as("h1"), col("z.hb").as("h2"))
      val hist = pos.groupBy(col("h1")).agg(count(lit(1)).as("ch"))
      val bg = pos.groupBy(col("h1"), col("h2")).agg(count(lit(1)).as("cb"))
      val vv = broadcast(
        toks.select(explode(expr(s"graft_hash60_array(w, $LmSeed)")).as("h"))
          .agg(countDistinct(col("h")).as("v")))
      val sc = pos.join(bg, Seq("h1", "h2")).join(hist, Seq("h1"))
        .crossJoin(vv)
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("nb"),
          expr("sum(((cb + 1) * 1000000000000) div (ch + v)) div count(1)")
            .as("score"))
      docs.select(col("doc_id")).join(sc, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("nb"), lit(0L)).cast("long").as("n_bigrams"),
          coalesce(col("score"), lit(-1L)).cast("long").as("lm_score"))
    },

    // markup/HTML text extraction — the CCNet/trafilatura FRONT-END of
    // the text pipeline (r14 verdict #3): the fixture's clean prose is
    // wrapped in a deterministic HTML shell (title/style/script/nav/
    // footer + an entity-laden paragraph — ONE SQL fragment evaluated
    // by BOTH engines, so the inputs cannot drift), then the compiled
    // graft_html_extract kernel strips script/style blocks and tags,
    // decodes entities, and drops boilerplate lines under
    // HtmlKernels.MinLineChars code points. The oracle re-implements
    // the documented replace-chain contract in DuckDB string ops
    // (regexp_replace + replace + list_filter) — a full second
    // implementation, compared on the extracted TEXT itself plus the
    // downstream x13-shape token count it feeds. Every wrapper feature
    // is load-bearing: the script/style bodies are ≥ MinLineChars, so
    // a block-elision bug surfaces as extra lines in the hash; the nav
    // and footer sit under the threshold, so a boilerplate-filter bug
    // does too.
    "x69_markup_extract" -> QueryDef(
      s"""WITH w AS (SELECT doc_id, $HtmlWrapFrag AS html FROM documents),
         |s1 AS (SELECT doc_id,
         |    regexp_replace(regexp_replace(regexp_replace(html,
         |      '(?is)<script[^>]*>.*?</script>', '', 'g'),
         |      '(?is)<style[^>]*>.*?</style>', '', 'g'),
         |      '<[^>]*>', chr(10), 'g') AS t FROM w),
         |-- numeric character references FIRST (the named-last rule's
         |-- numeric analogue): split on the literal '&#'; each tail
         |-- either starts with a valid terminated code point (decode,
         |-- keep the rest) or gets its '&#' back verbatim
         |s2 AS (SELECT doc_id, string_split(t, '&#') AS ps FROM s1),
         |s3 AS (SELECT doc_id, concat(ps[1], array_to_string(
         |    list_transform(ps[2:], p -> CASE
         |      WHEN regexp_matches(p, '^[0-9]+;')
         |        AND try_cast(regexp_extract(p, '^([0-9]+);', 1) AS BIGINT)
         |          BETWEEN 1 AND 1114111
         |        AND NOT try_cast(regexp_extract(p, '^([0-9]+);', 1) AS BIGINT)
         |          BETWEEN 55296 AND 57343
         |      THEN concat(chr(CAST(regexp_extract(p, '^([0-9]+);', 1) AS INT)),
         |        regexp_replace(p, '^[0-9]+;', ''))
         |      WHEN regexp_matches(p, '^[xX][0-9a-fA-F]+;')
         |        AND try_cast(concat('0x',
         |          regexp_extract(p, '^[xX]([0-9a-fA-F]+);', 1)) AS BIGINT)
         |          BETWEEN 1 AND 1114111
         |        AND NOT try_cast(concat('0x',
         |          regexp_extract(p, '^[xX]([0-9a-fA-F]+);', 1)) AS BIGINT)
         |          BETWEEN 55296 AND 57343
         |      THEN concat(chr(CAST(concat('0x',
         |          regexp_extract(p, '^[xX]([0-9a-fA-F]+);', 1)) AS INT)),
         |        regexp_replace(p, '^[xX][0-9a-fA-F]+;', ''))
         |      ELSE concat('&#', p) END), '')) AS t FROM s2),
         |e AS (SELECT doc_id, array_to_string(list_filter(list_transform(
         |    string_split(
         |      replace(replace(replace(replace(replace(replace(t,
         |      '&lt;','<'),'&gt;','>'),'&quot;','"'),'&apos;',''''),
         |      '&nbsp;',' '),'&amp;','&'),
         |    chr(10)),
         |    x -> trim(regexp_replace(x, '[ \\t\\r\\f]+', ' ', 'g'))),
         |    x -> length(x) >= ${graft.functions.HtmlKernels.MinLineChars}),
         |  chr(10)) AS extracted FROM s3)
         |SELECT doc_id,
         |  CAST(len(string_split(extracted, chr(10))) AS BIGINT) AS n_lines,
         |  CAST(length(extracted) AS BIGINT) AS extract_chars,
         |  CAST(len(regexp_extract_all(extracted, '$TokenPattern')) AS BIGINT)
         |    AS re_tokens,
         |  extracted
         |FROM e""".stripMargin) { (s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"), expr(HtmlWrapFrag).as("html"))
        .select(col("doc_id"),
          expr("graft_html_extract(html)").as("extracted"))
        .select(col("doc_id"),
          size(split(col("extracted"), "\n")).cast("long").as("n_lines"),
          length(col("extracted")).cast("long").as("extract_chars"),
          regexp_count(col("extracted"), lit(TokenPattern)).cast("long")
            .as("re_tokens"),
          col("extracted"))
    },

    // link-graph extraction — the other half of the crawl front-end:
    // harvest href values from RAW html (graft_html_links, contract =
    // the global regex (?i)href="([^"]*)" group 1), keep the internal
    // /doc/<id> targets, and aggregate the (src, dst) edge list with
    // multiplicity — the input shape q94's integer PageRank and any
    // link-based quality signal consume. The wrapper varies link count
    // per doc, duplicates one edge (multiplicity must surface), mixes
    // attribute case, and plants an external link the parse must drop.
    "x70_link_graph" -> QueryDef(
      s"""WITH nn AS (SELECT max(doc_id) + 1 AS n FROM documents),
         |w AS (SELECT doc_id, $LinkWrapFrag AS html FROM documents, nn),
         |l AS (SELECT doc_id,
         |    unnest(list_transform(regexp_extract_all(html,
         |      '(?i)href[ \\t\\n\\r\\f]*=[ \\t\\n\\r\\f]*("[^"]*"|''[^'']*''|[^ \\t\\n\\r\\f"''=<>`]+)',
         |      1),
         |      v -> CASE WHEN substr(v, 1, 1) = '"' OR substr(v, 1, 1) = ''''
         |        THEN substr(v, 2, length(v) - 2) ELSE v END)) AS href
         |  FROM w)
         |SELECT doc_id AS src_doc,
         |  CAST(substr(href, 6) AS BIGINT) AS dst_doc,
         |  count(*) AS n_links
         |FROM l WHERE href LIKE '/doc/%'
         |GROUP BY 1, 2""".stripMargin) { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val n = docs.agg((max(col("doc_id")) + lit(1L)).as("n"))
      docs.crossJoin(broadcast(n))
        .select(col("doc_id"), expr(LinkWrapFrag).as("html"))
        .select(col("doc_id").as("src_doc"),
          explode(expr("graft_html_links(html)")).as("href"))
        .filter(col("href").startsWith("/doc/"))
        .select(col("src_doc"),
          expr("CAST(substr(href, 6) AS BIGINT)").as("dst_doc"))
        .groupBy(col("src_doc"), col("dst_doc"))
        .agg(count(lit(1)).as("n_links"))
    },

    // crawl-graph capstone (r15 verdict #4): raw HTML → x70's edge
    // harvest → per-document PageRank, ONE declarative pipeline — the
    // link-based quality signal a curation stack feeds alongside
    // x12/x65, now computed from the engine's own front-end instead of
    // q94's synthetic transition graph. Arithmetic follows the q94
    // discipline exactly (integer 10⁻¹² ranks, damping 85/100,
    // integer division everywhere, dangling docs get base rank via
    // LEFT JOIN) so both engines are bit-identical; the oracle unrolls
    // the same LrIters iterations as CTEs over the same widened href
    // parse. Scale shape: the harvest is x70's (scan + explode + one
    // edge aggregate, linear in docs); each iteration is ONE shuffle
    // join of ranks into the out-weighted edge list plus one dst-keyed
    // aggregate, with per-round persist truncating the lineage chain
    // (the standard Spark iterative discipline; checkpoint every ~10
    // rounds at web scale). Driver fan-in is the rank VECTOR (one row
    // per doc — collected, like q94, to free the loop's caches before
    // returning; at true web scale the collect goes and the final
    // round stays distributed).
    "x71_linkrank" -> QueryDef({
      val iters = (1 to LrIters).map { i =>
        s"""r$i AS (
           |  SELECT v.node,
           |    ($LrBase // (SELECT n FROM nv)) +
           |    (85 * COALESCE(s.contrib, 0)) // 100 AS rank
           |  FROM v LEFT JOIN (
           |    SELECT e.dst AS node,
           |      CAST(sum((r.rank * e.w) // o.outw) AS BIGINT) AS contrib
           |    FROM e JOIN r${i - 1} r ON e.src = r.node
           |           JOIN o ON e.src = o.src
           |    GROUP BY e.dst) s ON v.node = s.node)""".stripMargin
      }.mkString(",\n")
      s"""WITH nn AS (SELECT max(doc_id) + 1 AS n FROM documents),
         |h AS (SELECT doc_id, $LinkWrapFrag AS html FROM documents, nn),
         |l AS (SELECT doc_id,
         |    unnest(list_transform(regexp_extract_all(html,
         |      '(?i)href[ \\t\\n\\r\\f]*=[ \\t\\n\\r\\f]*("[^"]*"|''[^'']*''|[^ \\t\\n\\r\\f"''=<>`]+)',
         |      1),
         |      v -> CASE WHEN substr(v, 1, 1) = '"' OR substr(v, 1, 1) = ''''
         |        THEN substr(v, 2, length(v) - 2) ELSE v END)) AS href
         |  FROM h),
         |e AS (SELECT doc_id AS src, CAST(substr(href, 6) AS BIGINT) AS dst,
         |      count(*) AS w
         |  FROM l WHERE href LIKE '/doc/%' GROUP BY 1, 2),
         |o AS (SELECT src, CAST(sum(w) AS BIGINT) AS outw FROM e GROUP BY 1),
         |v AS (SELECT doc_id AS node FROM documents),
         |nv AS (SELECT count(*) AS n FROM v),
         |r0 AS (SELECT node, $LrScale // (SELECT n FROM nv) AS rank FROM v),
         |$iters
         |SELECT node AS doc_id, rank AS rank_e12 FROM r$LrIters"""
        .stripMargin
    }) { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val nRow = docs.agg((max(col("doc_id")) + lit(1L)).as("n"))
      val edges = docs.crossJoin(broadcast(nRow))
        .select(col("doc_id"), expr(LinkWrapFrag).as("html"))
        .select(col("doc_id").as("src"),
          explode(expr("graft_html_links(html)")).as("href"))
        .filter(col("href").startsWith("/doc/"))
        .select(col("src"),
          expr("CAST(substr(href, 6) AS BIGINT)").as("dst"))
        .groupBy(col("src"), col("dst"))
        .agg(count(lit(1)).as("w"))
      val out = edges.groupBy(col("src"))
        .agg(sum(col("w")).cast("bigint").as("outw"))
      val nodes = docs.select(col("doc_id").as("node"))
      val n = docs.count() // |docs|: sizes the uniform start rank
      // r16 opt, the q94 treatment applied to the crawl graph:
      // (1) persist the HARVEST, not just the weighted edge list — ew's
      // plan holds the edge subtree on BOTH join sides (edges ⋈
      // out(edges)), and without a materialization boundary the action
      // ran the scan → HTML-kernel → explode → aggregate chain two-to-
      // three times (r16 opt eventlog: 3 stages re-reading the docs
      // parquet, each paying the kernel); one eager count() pins it.
      // (2) LrIters is a small fixed constant (the oracle unrolls the
      // same 3 iterations as CTEs), so the rounds unroll into ONE
      // declarative plan run by a single action instead of a
      // persist+count job per round — per iteration still exactly one
      // shuffle join + one dst-keyed aggregate. Cached loop inputs are
      // coalesce-sized from measured row counts (SizedParts); at true
      // web scale the iteration-count discipline stays "checkpoint
      // every ~10 rounds", which 3 never reaches.
      val edgesC = edges.persist()
      val nEdges = edgesC.count()
      val parts = graft.operators.SizedParts(s, math.max(n, nEdges))
      val ew = edgesC.join(out, "src").coalesce(parts).persist()
      val nodesC = nodes.coalesce(parts).persist()
      var ranks = nodesC.withColumn("rank", lit(LrScale / n))
      (1 to LrIters).foreach { _ =>
        val contrib = ew
          .join(ranks.withColumnRenamed("node", "src"), "src")
          .withColumn("c", expr("(rank * w) div outw"))
          .groupBy(col("dst").as("node"))
          .agg(sum(col("c")).cast("bigint").as("contrib"))
        ranks = nodesC.join(contrib, Seq("node"), "left")
          .select(col("node"), (lit(LrBase / n) +
            expr("(85 * coalesce(contrib, CAST(0 AS BIGINT))) div 100"))
            .as("rank"))
      }
      val res = ranks
        .select(col("node").as("doc_id"), col("rank").as("rank_e12"))
      val collected = res.collect() // one row per doc; ONE action
      ew.unpersist(); edgesC.unpersist(); nodesC.unpersist()
      s.createDataFrame(
        s.sparkContext.parallelize(collected.toIndexedSeq), res.schema)
    },

    // anchor-text edge attributes (r16) — the third crawl-front-end
    // harvest: every <a …href…>…</a> yields (href, cleaned anchor
    // text), the weak-label signal link-graph quality pipelines attach
    // to edges (anchor text describes the TARGET document). Contract =
    // the global regex (?is)<a[WS]([^>]*)>(.*?)</a> composed with the
    // x70 three-form href parse (FIRST match inside the attr region)
    // and the x69 entity discipline on the body (tags → space, numeric
    // refs then named entities, whitespace collapsed). href-less
    // anchors (the wrapper's bookmark) emit nothing but their matched
    // region is consumed, exactly like the regex's global scan. Same
    // linear scan shape as x70: one kernel pass + one edge aggregate.
    "x72_anchor_text" -> QueryDef({
      val anchorP = "(?is)<a[ \\t\\n\\r\\f]([^>]*)>(.*?)</a>"
      val hrefP = "(?i)href[ \\t\\n\\r\\f]*=[ \\t\\n\\r\\f]*" +
        "(\"[^\"]*\"|''[^'']*''|[^ \\t\\n\\r\\f\"''=<>`]+)"
      s"""WITH nn AS (SELECT max(doc_id) + 1 AS n FROM documents),
         |h AS (SELECT doc_id, $LinkWrapFrag AS html FROM documents, nn),
         |m AS (SELECT doc_id,
         |    regexp_extract_all(html, '$anchorP', 1) AS attrs,
         |    regexp_extract_all(html, '$anchorP', 2) AS inners FROM h),
         |z AS (SELECT doc_id, unnest(list_zip(attrs, inners)) AS pair
         |  FROM m),
         |p AS (SELECT doc_id, regexp_extract(pair[1], '$hrefP', 1) AS v,
         |    regexp_replace(pair[2], '<[^>]*>', ' ', 'g') AS t0 FROM z),
         |-- v = '' iff no href matched: a matched empty value keeps its
         |-- quotes in group 1 and an unquoted value is non-empty
         |q AS (SELECT doc_id,
         |    CASE WHEN substr(v, 1, 1) = '"' OR substr(v, 1, 1) = ''''
         |      THEN substr(v, 2, length(v) - 2) ELSE v END AS href,
         |    t0 FROM p WHERE v <> ''),
         |n1 AS (SELECT doc_id, href, string_split(t0, '&#') AS ps FROM q),
         |n2 AS (SELECT doc_id, href, concat(ps[1], array_to_string(
         |    list_transform(ps[2:], u -> CASE
         |      WHEN regexp_matches(u, '^[0-9]+;')
         |        AND try_cast(regexp_extract(u, '^([0-9]+);', 1) AS BIGINT)
         |          BETWEEN 1 AND 1114111
         |        AND NOT try_cast(regexp_extract(u, '^([0-9]+);', 1) AS BIGINT)
         |          BETWEEN 55296 AND 57343
         |      THEN concat(chr(CAST(regexp_extract(u, '^([0-9]+);', 1) AS INT)),
         |        regexp_replace(u, '^[0-9]+;', ''))
         |      WHEN regexp_matches(u, '^[xX][0-9a-fA-F]+;')
         |        AND try_cast(concat('0x',
         |          regexp_extract(u, '^[xX]([0-9a-fA-F]+);', 1)) AS BIGINT)
         |          BETWEEN 1 AND 1114111
         |        AND NOT try_cast(concat('0x',
         |          regexp_extract(u, '^[xX]([0-9a-fA-F]+);', 1)) AS BIGINT)
         |          BETWEEN 55296 AND 57343
         |      THEN concat(chr(CAST(concat('0x',
         |          regexp_extract(u, '^[xX]([0-9a-fA-F]+);', 1)) AS INT)),
         |        regexp_replace(u, '^[xX][0-9a-fA-F]+;', ''))
         |      ELSE concat('&#', u) END), '')) AS t1 FROM n1),
         |a AS (SELECT doc_id, href,
         |    trim(regexp_replace(
         |      replace(replace(replace(replace(replace(replace(t1,
         |        '&lt;','<'),'&gt;','>'),'&quot;','"'),'&apos;',''''),
         |        '&nbsp;',' '),'&amp;','&'),
         |      '[ \\t\\n\\r\\f]+', ' ', 'g')) AS anchor_text FROM n2)
         |SELECT doc_id AS src_doc,
         |  CAST(substr(href, 6) AS BIGINT) AS dst_doc,
         |  anchor_text, count(*) AS n_links
         |FROM a WHERE href LIKE '/doc/%'
         |GROUP BY 1, 2, 3""".stripMargin
    }) { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val n = docs.agg((max(col("doc_id")) + lit(1L)).as("n"))
      docs.crossJoin(broadcast(n))
        .select(col("doc_id"), expr(LinkWrapFrag).as("html"))
        .select(col("doc_id").as("src_doc"),
          explode(expr("graft_html_anchors(html)")).as("a"))
        .select(col("src_doc"), col("a.href").as("href"),
          col("a.anchor").as("anchor_text"))
        .filter(col("href").startsWith("/doc/"))
        .select(col("src_doc"),
          expr("CAST(substr(href, 6) AS BIGINT)").as("dst_doc"),
          col("anchor_text"))
        .groupBy(col("src_doc"), col("dst_doc"), col("anchor_text"))
        .agg(count(lit(1)).as("n_links"))
    }
  )
}
