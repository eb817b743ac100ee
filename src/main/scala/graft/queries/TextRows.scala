package graft.queries

import graft.lang.LanguageDetect
import graft.quality.QualityMonitor
import graft.queries.CatalogSupport._
import graft.queries.QueryCatalog.Q
import graft.text.TextAnalysis
import org.apache.spark.sql.functions._

/** Text-quality and training-data rows: language and size statistics, the
  * quality report and score, TF-IDF, fingerprints, PII scrubbing,
  * repetition and Gopher filters, stratified sampling, domain mixing and
  * caps, sequence packing, training order, sample review and the
  * unigram/bigram LM scores.
  */
object TextRows extends CatalogFamily {

  val qLangDist: Q = (s, dir) =>
    QualityMonitor
      .languageDistribution(tbl(s, dir, "documents"), "lang")

  val qLangDistSql: String =
    """WITH c AS (SELECT lang, count(*) AS "count" FROM documents GROUP BY lang)
       -- pct exact-integer 4-dp HALF_UP (count·100 at 4 dp = scale 10^6
       -- on the raw ratio; the RepetitionStats.ratio6 mirror)
       SELECT lang, "count",
              ((2 * "count" * 1000000 + t) // (2 * t)) / 10000.0 AS pct
       FROM c CROSS JOIN (SELECT sum("count") AS t FROM c)
       ORDER BY "count" DESC, lang"""
  row(CatalogRow("q_lang_dist", qLangDist, qLangDistSql))

  /** G3 size distribution over the token estimates (population std for
    * numpy ddof=0 parity).
    */
  val qQualityStats: Q = (s, dir) => {
    val d = tbl(s, dir, "documents")
      .select(
        length(col("text")).as("chars"),
        LanguageDetect.estimateTokens(col("text")).as("tokens")
      )
    QualityMonitor.sizeDistribution(d, "chars", "tokens")
  }

  val qQualityStatsSql: String =
    """WITH d AS (SELECT CAST(length(text) AS INT) AS chars,
         CAST(floor((length(text) - length(regexp_replace(text, '[가-힣]', '', 'g'))) / 1.5
              + length(regexp_replace(text, '[가-힣]', '', 'g')) / 4.0) AS INT) AS tokens
       FROM documents)
       SELECT count(*) AS total_chunks,
         CAST(min(chars) AS INT) AS min_chars, CAST(max(chars) AS INT) AS max_chars,
         -- integer-column averages: exact-integer 4-dp HALF_UP
         -- (RepetitionStats.ratio6 mirror); medians are dyadic-exact
         -- (k or k.5), stds irrational — both keep round()
         ((2 * sum(CAST(chars AS BIGINT)) * 10000 + count(*)) // (2 * count(*))) / 10000.0 AS avg_chars,
         round(median(chars), 4) AS median_chars,
         round(stddev_pop(chars), 4) AS std_chars,
         min(tokens) AS min_tokens, max(tokens) AS max_tokens,
         ((2 * sum(CAST(tokens AS BIGINT)) * 10000 + count(*)) // (2 * count(*))) / 10000.0 AS avg_tokens,
         round(median(tokens), 4) AS median_tokens
       FROM d"""
  row(CatalogRow("q_quality_stats", qQualityStats, qQualityStatsSql))

  /** G7/G8/G10 report row: in-range ratio, CV, recommendation. */
  val qQualityReport: Q = (s, dir) => {
    val d = tbl(s, dir, "documents")
      .select(LanguageDetect.estimateTokens(col("text")).as("tokens"))
    QualityMonitor.report(d, "tokens")
  }

  val qQualityReportSql: String =
    """WITH d AS (SELECT CAST(floor(length(text) / 4.0) AS INT) AS tokens FROM documents),
       agg AS (
         SELECT count(*) AS total_chunks,
                CAST(sum(CASE WHEN tokens BETWEEN 300 AND 500 THEN 1 ELSE 0 END) AS BIGINT) AS in_range,
                round(stddev_pop(tokens) / avg(tokens) * 100.0, 4) AS cv_pct,
                ((2 * sum(CAST(tokens AS BIGINT)) * 10000 + count(*)) // (2 * count(*))) / 10000.0 AS avg_tokens,
                round(stddev_pop(tokens), 4) AS std_tokens
         FROM d)
       -- in_range_pct exact-integer 4-dp HALF_UP (count·100 at 4 dp =
       -- scale 10^6 on the raw ratio; RepetitionStats.ratio6 mirror);
       -- the recommendation thresholds compare the ROUNDED values,
       -- mirroring QualityMonitor.report
       SELECT total_chunks,
              ((2 * in_range * 1000000 + total_chunks) // (2 * total_chunks)) / 10000.0 AS in_range_pct,
              cv_pct, avg_tokens, std_tokens,
              CASE WHEN ((2 * in_range * 1000000 + total_chunks) // (2 * total_chunks)) / 10000.0 < 70.0 THEN 'adjust_chunk_size'
                   WHEN cv_pct > 50.0 THEN 'high_variance'
                   ELSE 'ok' END AS recommendation
       FROM agg"""
  row(CatalogRow("q_quality_report", qQualityReport, qQualityReportSql))

  /** Single-pass quality analysis (see TextAnalysis.withQualityAnalysis:
    * the two-expression formulation re-tokenized ~6×/row — 16 s at sf0.1
    * in the round-2 driver bench; the staged transform is one pass).
    */
  val qQualityScore: Q = (s, dir) =>
    TextAnalysis
      .withQualityAnalysis(
        rebalanced(tbl(s, dir, "documents")).select("doc_id", "text"),
        "text"
      )
      .select(
        col("doc_id"),
        col("n_chars"),
        col("n_tokens"),
        col("stopword_ratio"),
        col("punct_ratio"),
        col("alpha_ratio"),
        col("quality_score")
      )

  val qQualityScoreSql: String =
    """WITH f AS (
         SELECT doc_id,
           CAST(length(text) AS INT) AS n_chars,
           CAST(len(list_filter(regexp_split_to_array(lower(text), '\s+'), t -> len(t) > 0)) AS INT) AS n_tokens,
           len(list_filter(regexp_split_to_array(lower(text), '\s+'),
               t -> t IN ('the','a','an','and','or','of','to','in','is','it','that','for','on','with','as','was','at','by','be','this'))) AS n_stop,
           length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS n_punct,
           length(text) - length(regexp_replace(text, '[\p{L}]', '', 'g')) AS n_alpha
         FROM documents)
       SELECT doc_id, n_chars, n_tokens,
         CASE WHEN n_tokens = 0 THEN 0.0 ELSE floor(n_stop * 1.0 / n_tokens * 1e6 + 0.5) / 1e6 END AS stopword_ratio,
         CASE WHEN n_chars = 0 THEN 0.0 ELSE floor(n_punct * 1.0 / n_chars * 1e6 + 0.5) / 1e6 END AS punct_ratio,
         CASE WHEN n_chars = 0 THEN 0.0 ELSE floor(n_alpha * 1.0 / n_chars * 1e6 + 0.5) / 1e6 END AS alpha_ratio,
         floor((least(n_tokens / 100.0, 1.0)
              + least((CASE WHEN n_tokens = 0 THEN 0.0 ELSE n_stop * 1.0 / n_tokens END) * 5.0, 1.0)
              + (CASE WHEN n_chars = 0 THEN 0.0 ELSE n_alpha * 1.0 / n_chars END)
              + (CASE WHEN (CASE WHEN n_tokens = 0 THEN 0.0 ELSE (n_chars - n_tokens + 1) * 1.0 / n_tokens END) BETWEEN 3.0 AND 10.0 THEN 1.0 ELSE 0.5 END)
               ) / 4.0 * 1e4 + 0.5) / 1e4 AS quality_score
       FROM f ORDER BY doc_id"""
  row(CatalogRow("q_quality_score", qQualityScore, qQualityScoreSql))

  /** Top-5 distinctive terms per document (raw-count-IDF TF-IDF; see
    * TextAnalysis.topTermsPerDoc for why not log-IDF). The oracle
    * recomputes tf, df, and the score from scratch; tf·N/df is an
    * integer ratio, so both engines round it at 6 dp in exact integer
    * arithmetic (the RepetitionStats.ratio6 class — a plain round()
    * pair diverges at .5·10⁻⁶ midpoints, r16's q_repetition lesson).
    */
  val qTfidfTopk: Q = (s, dir) =>
    TextAnalysis.topTermsPerDoc(rebalanced(tbl(s, dir, "documents")), "doc_id", "text", 5)

  val qTfidfTopkSql: String =
    raw"""WITH terms AS (
            SELECT doc_id, unnest(list_filter(regexp_split_to_array(lower(coalesce(text, '')), '\s+'), t -> t <> '')) AS term
            FROM documents),
          tf AS (SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY 1, 2),
          dfc AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
          n AS (SELECT count(*) AS n FROM documents),
          scored AS (
            -- score = tf·N/df exact-integer 6-dp HALF_UP (the
            -- RepetitionStats.ratio6 mirror) — matches
            -- TextAnalysis.topTermsPerDoc; ranking ties resolve over
            -- the identical exact-rounded value on both engines
            SELECT tf.doc_id, tf.term, tf.tf, dfc.df,
                   ((2 * tf.tf * n.n * 1000000 + dfc.df) // (2 * dfc.df)) / 1000000.0 AS score
            FROM tf JOIN dfc USING (term) CROSS JOIN n)
          SELECT doc_id, CAST(rank AS INT) AS rank, term, tf, df, score FROM (
            SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rank
            FROM scored)
          WHERE rank <= 5 ORDER BY doc_id, rank"""
  row(CatalogRow("q_tfidf_topk", qTfidfTopk, qTfidfTopkSql))

  /** Deterministic stratified corpus mixing (text.Sampling): per-lang
    * keep fractions with a default for unlisted strata, membership
    * decided by an md5-threshold on doc_id — reproducible across
    * engines/runs/cluster sizes, which is exactly what the oracle
    * certifies: DuckDB re-derives every row's bucket and the whole
    * mixture must match row-for-row (not just per-stratum counts).
    */
  val qStratifiedSample: Q = (s, dir) =>
    graft.text.Sampling
      .stratifiedHashSample(
        tbl(s, dir, "documents"), "lang", "doc_id",
        Map("en" -> 0.5, "zh" -> 0.3, "de" -> 0.2), defaultFraction = 0.1)
      .select(col("doc_id"), col("lang"))

  val qStratifiedSampleSql: String =
    """SELECT doc_id, lang FROM documents
       WHERE ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT <
         CASE lang WHEN 'en' THEN 2147483648
                   WHEN 'zh' THEN 1288490189
                   WHEN 'de' THEN 858993459
                   ELSE 429496730 END
       ORDER BY doc_id"""
  row(CatalogRow("q_stratified_sample", qStratifiedSample, qStratifiedSampleSql))

  val qFingerprint: Q = (s, dir) =>
    tbl(s, dir, "documents")
      .select(col("doc_id"), TextAnalysis.fingerprintMd5(col("text")).as("fingerprint"))

  val qFingerprintSql: String =
    """SELECT doc_id, md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fingerprint
       FROM documents ORDER BY doc_id"""
  row(CatalogRow("q_fingerprint", qFingerprint, qFingerprintSql))

  /** Gopher-style repetition features + keep decision per document.
    * Every fraction is an exact integer ratio rounded at 6 dp, so the
    * DuckDB oracle rebuilds all five measures from scratch (line
    * grouping + n-gram grouping per doc) and must agree bit-for-bit.
    */
  /** Graded on the replica-0 slice since r17: the oracle rebuilds
    * per-doc line and 2/3/5-gram COUNT MAPS from scratch, and that
    * aggregation state is non-spillable in DuckDB — on the realistic
    * sf100r fixture (5M docs of mostly-unique salted tokens, so no
    * shared-string dictionary) it exhausted the ~100 GB memory cap
    * outright ("Failed to allocate block", records/sweep_sf100r_r17.log),
    * and q_gopher_full (which embeds this SQL) exhausted the spill
    * budget the same way. No-op at the driver sfs (cap > max driver
    * doc_id — the gate compares the FULL corpus), and the row keeps
    * its FULL-corpus decade verdicts where the oracle fit: sf10r
    * realistic (500k docs, r16 — the sweep that caught the midpoint
    * bug) and sf100 maximal (5M docs, r14d). The engine side completes
    * the full corpus at every decade (it is a narrow per-doc map —
    * q_line_dedup PASSes full-corpus at sf100r over the same text).
    */
  private def qRepetition(cap: Long): Q = (s, dir) =>
    rebalanced(tbl(s, dir, "documents").filter(col("doc_id") < cap))
      .select(col("doc_id"), graft.text.RepetitionStats.repetitionFeatures(col("text")).as("f"))
      .select(
        col("doc_id"),
        col("f.dup_line_frac").as("dup_line_frac"),
        col("f.dup_line_char_frac").as("dup_line_char_frac"),
        col("f.top2gram_char_frac").as("top2gram_char_frac"),
        col("f.top3gram_char_frac").as("top3gram_char_frac"),
        col("f.dup5gram_char_frac").as("dup5gram_char_frac"),
        graft.text.RepetitionStats.keepByRepetition(col("f")).as("keep")
      )

  val qRepetitionSql: String =
    raw"""WITH doc_lines AS (
            SELECT doc_id, list_filter(list_transform(string_split(text, chr(10)), x -> trim(x)), x -> x <> '') AS ls
            FROM documents),
          lgrp AS (
            SELECT doc_id, line, count(*) AS c FROM (SELECT doc_id, unnest(ls) AS line FROM doc_lines) GROUP BY 1, 2),
          lstats AS (
            SELECT doc_id, sum(c) AS n_lines, count(*) AS n_distinct,
                   sum(length(line) * c) AS total_line_chars,
                   sum(CASE WHEN c > 1 THEN length(line) * (c - 1) ELSE 0 END) AS dup_line_chars
            FROM lgrp GROUP BY 1),
          tokens AS (
            SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '') AS toks
            FROM documents),
          tstats AS (
            SELECT doc_id, CASE WHEN len(toks) = 0 THEN 0 ELSE length(array_to_string(toks, ' ')) END AS total_chars
            FROM tokens),
          g2c AS (
            SELECT doc_id, g, count(*) AS c FROM (
              SELECT doc_id, unnest(list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])) AS g
              FROM tokens) GROUP BY 1, 2),
          top2 AS (
            SELECT doc_id, c * length(g) AS chars FROM g2c
            QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, g) = 1),
          g3c AS (
            SELECT doc_id, g, count(*) AS c FROM (
              SELECT doc_id, unnest(list_transform(range(1, len(toks) - 1), i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS g
              FROM tokens) GROUP BY 1, 2),
          top3 AS (
            SELECT doc_id, c * length(g) AS chars FROM g3c
            QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, g) = 1),
          g5c AS (
            SELECT doc_id, g, count(*) AS c FROM (
              SELECT doc_id, unnest(list_transform(range(1, len(toks) - 3), i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3] || ' ' || toks[i+4])) AS g
              FROM tokens) GROUP BY 1, 2),
          dup5 AS (
            SELECT doc_id, sum(CASE WHEN c > 1 THEN c * length(g) ELSE 0 END) AS chars FROM g5c GROUP BY 1),
          m AS (
            -- coalesce the LEFT-JOINed aggregates so the zero-guards
            -- fire for docs with no non-empty lines/tokens (NULL would
            -- otherwise fall through to NULL arithmetic where the Spark
            -- side returns 0.0). Carries exact INTEGER numer/denom
            -- pairs — the 6-dp rounding below must happen in integer
            -- arithmetic, mirroring RepetitionStats.ratio6: rounding a
            -- double ratio (round(x, 6) here vs BigDecimal HALF_UP on
            -- the Spark side) diverges when the true ratio sits exactly
            -- on a .5e-6 midpoint, which the r16 sf10r sweep measured
            -- on 16 salted docs at top3 = 0.0640625 exactly.
            SELECT d.doc_id,
              CAST(coalesce(l.n_lines, 0) - coalesce(l.n_distinct, 0) AS BIGINT) AS dln,
              CAST(coalesce(l.n_lines, 0) AS BIGINT) AS dld,
              CAST(coalesce(l.dup_line_chars, 0) AS BIGINT) AS dlcn,
              CAST(coalesce(l.total_line_chars, 0) AS BIGINT) AS dlcd,
              CAST(coalesce(t2.chars, 0) AS BIGINT) AS t2n,
              CAST(coalesce(t3.chars, 0) AS BIGINT) AS t3n,
              CAST(least(coalesce(d5.chars, 0), coalesce(t.total_chars, 0)) AS BIGINT) AS d5n,
              CAST(coalesce(t.total_chars, 0) AS BIGINT) AS td
            FROM documents d
            LEFT JOIN lstats l USING (doc_id)
            LEFT JOIN tstats t USING (doc_id)
            LEFT JOIN top2 t2 USING (doc_id)
            LEFT JOIN top3 t3 USING (doc_id)
            LEFT JOIN dup5 d5 USING (doc_id)),
          r6 AS (
            -- floor((2·n·10^6 + d) / (2·d)) / 10^6 = HALF_UP at 6 dp,
            -- all-bigint until one final int/int-literal division —
            -- bit-identical to the Spark UDF by construction
            SELECT doc_id,
              CASE WHEN dld = 0 THEN 0.0 ELSE ((2*dln*1000000 + dld) // (2*dld)) / 1000000.0 END AS dup_line_frac,
              CASE WHEN dlcd = 0 THEN 0.0 ELSE ((2*dlcn*1000000 + dlcd) // (2*dlcd)) / 1000000.0 END AS dup_line_char_frac,
              CASE WHEN td = 0 THEN 0.0 ELSE ((2*t2n*1000000 + td) // (2*td)) / 1000000.0 END AS top2gram_char_frac,
              CASE WHEN td = 0 THEN 0.0 ELSE ((2*t3n*1000000 + td) // (2*td)) / 1000000.0 END AS top3gram_char_frac,
              CASE WHEN td = 0 THEN 0.0 ELSE ((2*d5n*1000000 + td) // (2*td)) / 1000000.0 END AS dup5gram_char_frac
            FROM m)
          SELECT doc_id,
                 dup_line_frac, dup_line_char_frac,
                 top2gram_char_frac, top3gram_char_frac, dup5gram_char_frac,
                 (dup_line_frac <= 0.3 AND top2gram_char_frac <= 0.2 AND dup5gram_char_frac <= 0.15) AS keep
          FROM r6 ORDER BY doc_id"""

  /** The GRADED q_repetition oracle: [[qRepetitionSql]] on the
    * replica-0 slice (see the [[qRepetition]] scaladoc for why).
    * [[qRepetitionSql]] itself stays uncapped because
    * [[qGopherFullSql]] embeds it and reroutes its reads to the
    * boundary-unioned gdocs CTE — the gopher row's cap lives on the
    * documents leg INSIDE gdocs instead.
    */
  private def qRepetitionGradedSql(cap: Long): String = rerouteDocReads(
    qRepetitionSql, s"FROM (SELECT * FROM documents WHERE doc_id < $cap)")
  row(CatalogRow.capped("q_repetition", _.Replica0Cap)(qRepetition, qRepetitionGradedSql))

  /** PII noise appended to every doc so the scrubber has real work in
    * both engines: email, international + domestic phone shapes, IPv4,
    * card-shaped digit run. Entities separated by words (not a single
    * space) — the lookaround-free guard classes consume one adjacent
    * char, so back-to-back entities are a documented non-goal.
    */
  private val PiiNoiseSuffix: String =
    " contact john.doe@example.com or +82 10-1234-5678 backup 010 1234 5678 ip 192.168.0.1 card 1234-5678-9012-3456 done"

  /** PII redaction over noisy corpus text — scrub BEFORE fingerprint so
    * redaction never splits identical docs (the operator-order contract
    * PiiScrub documents). Oracle replays the same lookaround-free
    * stages under RE2.
    */
  val qPiiScrub: Q = (s, dir) => {
    // partition-batched pattern-major execution (see PiiScrub.scrubBatched
    // — per-row pattern interleaving stops scaling across executor
    // threads); the fingerprint reads the materialized column
    import org.apache.spark.sql.Encoders
    implicit val enc = Encoders.tuple(Encoders.scalaLong, Encoders.STRING)
    val base = rebalanced(tbl(s, dir, "documents"))
      .select(
        col("doc_id").cast("long").as("doc_id"),
        concat(col("text"), lit(PiiNoiseSuffix)).as("t"))
      .as[(Long, String)](enc)
    graft.text.PiiScrub
      .scrubBatched(base)
      .toDF("doc_id", "scrubbed")
      .withColumn("scrubbed_fingerprint", TextAnalysis.fingerprintMd5(col("scrubbed")))
  }

  val qPiiScrubSql: String = {
    val noisy = "(text || ' contact john.doe@example.com or +82 10-1234-5678 backup 010 1234 5678 ip 192.168.0.1 card 1234-5678-9012-3456 done')"
    val scrub = graft.text.PiiScrub.scrubSql(noisy)
    s"""SELECT doc_id, $scrub AS scrubbed,
        md5(trim(regexp_replace(lower($scrub), '\\s+', ' ', 'g'))) AS scrubbed_fingerprint
        FROM documents ORDER BY doc_id"""
  }
  row(CatalogRow("q_pii_scrub", qPiiScrub, qPiiScrubSql))

  /** Greedy in-order sequence packing
    * ([[graft.text.SequencePacking.packGreedy]]): whitespace-token
    * costs, budget 256, packed per source in doc_id order. The oracle
    * replays the sequential fold as a recursive CTE. Graded slice
    * capped at doc_id < [[Replica0CapSmall]] — covers every driver corpus in full and
    * bounds the oracle's recursion depth (one level per doc per
    * source) on the big sweeps; scale comes from per-group
    * parallelism, which the cap does not touch.
    */
  private def qPackSequences(cap: Long): Q = (s, dir) => {
    val d = tbl(s, dir, "documents").filter(col("doc_id") < cap)
    val withCost = d.withColumn(
      "toks",
      size(filter(split(trim(col("text")), "\\s+"), x => x =!= lit(""))).cast("long"))
    graft.text.SequencePacking.packGreedy(withCost, "source", "doc_id", "toks", budget = 256L)
  }

  private def qPackSequencesSql(cap: Long): String =
    raw"""WITH RECURSIVE t AS (
            SELECT source, doc_id,
                   len(list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> '')) AS toks
            FROM documents WHERE doc_id < $cap),
          r AS (SELECT source, doc_id, toks,
                       row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn FROM t),
          rec AS (
            SELECT source, doc_id, toks, rn, 0 AS block_id, 0 AS block_pos, toks AS acc
            FROM r WHERE rn = 1
            UNION ALL
            SELECT r.source, r.doc_id, r.toks, r.rn,
                   CASE WHEN rec.acc + r.toks > 256 THEN rec.block_id + 1 ELSE rec.block_id END,
                   CASE WHEN rec.acc + r.toks > 256 THEN 0 ELSE rec.block_pos + 1 END,
                   CASE WHEN rec.acc + r.toks > 256 THEN r.toks ELSE rec.acc + r.toks END
            FROM rec JOIN r ON r.source = rec.source AND r.rn = rec.rn + 1)
          SELECT source, doc_id, toks, block_id, block_pos FROM rec
          ORDER BY source, doc_id"""
  row(CatalogRow.capped("q_pack_sequences", _.Replica0CapSmall)(qPackSequences, qPackSequencesSql))

  /** Training-mixture resampling
    * ([[graft.text.Sampling.weightedResample]]): per-language epoch
    * weights (en 0.5× / zh 2× / es 2.25× / de 0× / default 1×) applied
    * as deterministic md5-fraction replication — floor(w) copies plus
    * one more for the frac(w) hash-slice. Scan-stage row generation,
    * no shuffle; the oracle replays bucket, weight CASE, and
    * unnest(range(n)) exactly.
    */
  val qDomainMix: Q = (s, dir) =>
    graft.text.Sampling
      .weightedResample(
        tbl(s, dir, "documents"), "lang", "doc_id",
        Map("en" -> 0.5, "zh" -> 2.0, "es" -> 2.25, "de" -> 0.0), defaultWeight = 1.0)
      .select(col("doc_id"), col("lang"), col("rep"))

  val qDomainMixSql: String =
    """WITH w AS (SELECT doc_id, lang,
         CASE lang WHEN 'en' THEN 0 WHEN 'zh' THEN 2 WHEN 'es' THEN 2 WHEN 'de' THEN 0 ELSE 1 END
         + CASE WHEN ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT <
             CASE lang WHEN 'en' THEN 2147483648 WHEN 'zh' THEN 0 WHEN 'es' THEN 1073741824 WHEN 'de' THEN 0 ELSE 0 END
           THEN 1 ELSE 0 END AS n
         FROM documents)
       SELECT doc_id, lang, CAST(r AS INT) AS rep
       FROM (SELECT doc_id, lang, unnest(range(0, n)) AS r FROM w WHERE n > 0)
       ORDER BY doc_id, rep"""
  row(CatalogRow("q_domain_mix", qDomainMix, qDomainMixSql))

  /** Unigram-LM cross-entropy quality signal
    * ([[graft.text.TextAnalysis.unigramCrossEntropy]]): corpus-trained
    * P(w), per-doc mean −log2 P — the CCNet-family perplexity filter's
    * model-free floor. hotMin = 50 exercises BOTH routes of the
    * frequency-partitioned join (broadcast head for hot types, shuffle
    * join for the tail) on the driver corpus; the oracle recomputes
    * counts, logs, and the mean from scratch — it is route-blind, so a
    * green row also certifies the hybrid split is semantically
    * invisible.
    */
  val qUnigramLogprob: Q = (s, dir) =>
    graft.text.TextAnalysis
      .unigramCrossEntropy(rebalanced(tbl(s, dir, "documents")), "doc_id", "text", hotMin = 50L)

  val qUnigramLogprobSql: String =
    raw"""WITH toks AS (
            SELECT doc_id, unnest(list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '')) AS tok
            FROM documents),
          counts AS (SELECT tok, count(*) AS c FROM toks GROUP BY tok),
          tot AS (SELECT sum(c) AS t FROM counts)
          SELECT doc_id, count(*) AS n_tokens,
                 round(avg(-ln(c * 1.0 / t) / ln(2)), 6) AS bits_per_token
          FROM toks JOIN counts USING (tok) CROSS JOIN tot
          GROUP BY doc_id ORDER BY doc_id"""
  row(CatalogRow("q_unigram_logprob", qUnigramLogprob, qUnigramLogprobSql))

  /** Bigram-LM cross-entropy
    * ([[graft.text.TextAnalysis.bigramCrossEntropy]]): Jelinek-Mercer
    * interpolated P(w|v) = 0.75·c(v,w)/c(v·) + 0.25·c(w)/N trained on
    * the corpus itself, per-doc mean −log2 bits — the rung above the
    * unigram filter on the CCNet perplexity ladder. hotMin = 50
    * exercises BOTH routes of the frequency-partitioned bigram join on
    * the driver corpus; the route-blind oracle rebuilds bigram, prefix,
    * and unigram counts from scratch.
    */
  val qBigramLogprob: Q = (s, dir) =>
    graft.text.TextAnalysis
      .bigramCrossEntropy(rebalanced(tbl(s, dir, "documents")), "doc_id", "text", hotMin = 50L)

  val qBigramLogprobSql: String =
    raw"""WITH arrs AS (
            SELECT doc_id, list_filter(regexp_split_to_array(lower(coalesce(text, '')), '\s+'), x -> x <> '') AS a
            FROM documents),
          toks AS (SELECT doc_id, unnest(a) AS w FROM arrs),
          cu AS (SELECT w, count(*) AS cu FROM toks GROUP BY w),
          tot AS (SELECT count(*) AS t FROM toks),
          bg AS (
            SELECT doc_id,
                   unnest(list_transform(range(1, len(a)), i -> a[i])) AS v,
                   unnest(list_transform(range(1, len(a)), i -> a[i + 1])) AS w
            FROM arrs WHERE len(a) >= 2),
          cb AS (SELECT v, w, count(*) AS cb FROM bg GROUP BY v, w),
          cp AS (SELECT v, sum(cb) AS cp FROM cb GROUP BY v),
          scored AS (
            SELECT bg.doc_id,
                   0.75 * cb.cb / cp.cp + 0.25 * cu.cu / tot.t AS p
            FROM bg
            JOIN cb USING (v, w)
            JOIN cp USING (v)
            JOIN cu ON bg.w = cu.w
            CROSS JOIN tot)
          SELECT doc_id, count(*) AS n_bigrams,
                 round(avg(-ln(p) / ln(2)), 6) AS bits_per_token
          FROM scored GROUP BY doc_id ORDER BY doc_id"""
  row(CatalogRow("q_bigram_logprob", qBigramLogprob, qBigramLogprobSql))

  /** G9 sample-review, driver-graded at last: the reference's seeded
    * `random.sample` review set (quality_monitor.py:143-158) in the
    * engine's reproducible form —
    * [[graft.quality.QualityMonitor.sampleReviewByHash]] (top-n by md5
    * of the id; `rand(seed)` is partition-layout-dependent and was
    * spec-only for that reason). TakeOrderedAndProject plan, review
    * stats attached.
    */
  val qSampleReview: Q = (s, dir) =>
    graft.quality.QualityMonitor
      .sampleReviewByHash(tbl(s, dir, "documents"), "doc_id", 10)
      .select(
        col("doc_id"), col("lang"), col("source"), col("n_chars"),
        length(col("text")).as("text_len"))

  val qSampleReviewSql: String =
    """SELECT doc_id, lang, source, n_chars, CAST(length(text) AS INT) AS text_len
       FROM documents ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id LIMIT 10"""
  row(CatalogRow("q_sample_review", qSampleReview, qSampleReviewSql))

  /** Gopher-style structural line/word filters with the keep verdict
    * ([[graft.quality.GopherRules]]) — one codegen expression tree per
    * row, no shuffle; the oracle replays the same integer counts and
    * IEEE divisions (the SQL lives in GopherRules.sql beside the Scala
    * so the two cannot drift).
    */
  val qGopherRules: Q = (s, dir) =>
    graft.quality.GopherRules
      .withGopherRules(rebalanced(tbl(s, dir, "documents")), "text")
      .select("doc_id", "n_words", "mean_word_len", "symbol_word_ratio",
        "bullet_frac", "ellipsis_frac", "alpha_word_frac", "dup_line_frac", "keep")

  val qGopherRulesSql: String = graft.quality.GopherRules.sql
  row(CatalogRow("q_gopher_rules", qGopherRules, qGopherRulesSql))

  /** Per-domain volume cap ([[graft.text.Sampling.capPerStratum]]):
    * at most 20 documents per source, kept by deterministic hash
    * priority — output is 20 sources × ≤20 rows at EVERY sf, so the
    * graded row pins the priority order itself, not just the counts.
    */
  val qDomainCap: Q = (s, dir) =>
    graft.text.Sampling
      .capPerStratum(tbl(s, dir, "documents"), "source", "doc_id", 20)
      .select("doc_id", "source", "rank_in_stratum")

  val qDomainCapSql: String =
    """WITH r AS (
         SELECT doc_id, source,
                row_number() OVER (PARTITION BY source
                  ORDER BY ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT, doc_id) AS rk
         FROM documents)
       SELECT doc_id, source, CAST(rk AS INT) AS rank_in_stratum FROM r WHERE rk <= 20"""
  row(CatalogRow("q_domain_cap", qDomainCap, qDomainCapSql))

  /** Deterministic global training order
    * ([[graft.text.Sampling.trainOrder]]): every document gets a
    * (shard, pos) — shard by id-hash modulo the shard count, a dense
    * position within the shard by (hash, id). This is the
    * reproducible-dataloader primitive: the "epoch shuffle" is a pure
    * function of the ids, so any worker (or any engine — the oracle
    * replays it) can re-derive exactly which document is row k of
    * shard s with no shuffle manifest. The graded row pins 8 shards
    * so the oracle is a fixed replay; real callers get
    * `trainOrderAuto`, whose AdaptiveKnobs.trainShards count grows
    * with the corpus (ceil(n / 2^20)) — a fixed count is a sort
    * funnel at scale.
    */
  val qTrainOrder: Q = (s, dir) =>
    graft.text.Sampling
      .trainOrder(tbl(s, dir, "documents"), "doc_id", 8)
      .select("doc_id", "shard", "pos")

  val qTrainOrderSql: String =
    """WITH h AS (
         SELECT doc_id,
                ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT AS b
         FROM documents)
       SELECT doc_id, CAST(b % 8 AS INT) AS shard,
              CAST(row_number() OVER (PARTITION BY b % 8 ORDER BY b, doc_id) AS INT) AS pos
       FROM h"""
  row(CatalogRow("q_train_order", qTrainOrder, qTrainOrderSql))

  /** Boundary-fixture documents for the composed Gopher filter
    * (VERDICT r13 #7): each pair sits exactly AT and just above one
    * repetition threshold — top-3-gram 99/550 = 0.18 vs 99/544,
    * top-2-gram 70/350 = 0.20 vs 70/345, dup-5-gram 48/320 = 0.15 vs
    * 48/318, dup-line-char 28/140 = 0.20 vs 28/139 — plus the
    * stop-word rule at exactly 1 vs 2 distinct hits on otherwise
    * identical docs. Every doc passes every OTHER rule, so each flip
    * is single-rule-attributable in the graded columns. Constructed
    * and validated by tools/gen_gopher_boundary.py (a faithful replica
    * of both rule families; re-run it when editing these strings).
    * Negative doc_ids cannot collide with any corpus at any sf.
    */
  private val gopherBoundaryDocs: Seq[(Long, String)] = Seq(
    (-1L, "the and foo bar baz w000a foo bar baz x001a foo bar baz y002a foo bar baz z003a foo bar baz q004a foo bar baz v005a foo bar baz w006a foo bar baz x007a foo bar baz y008a q100ab v101ab w102ab x103ab y104ab z105ab q106ab v107ab w108ab x109ab y110ab z111ab q112ab v113ab w114ab x115ab y116ab z117ab q118ab v119ab w120ab x121ab y122ab z123ab q124ab v125ab w126ab x127ab y128ab z129ab q130ab v131ab w132ab x133ab y134ab z135ab q136ab v137ab w138ab x139ab y140ab z141ab q142ab v143ab w144ab x145ab y146ab z147ab q148ab v149ab w150ab x151abcdefghij y152abcd"),
    (-2L, "the and foo bar baz w000a foo bar baz x001a foo bar baz y002a foo bar baz z003a foo bar baz q004a foo bar baz v005a foo bar baz w006a foo bar baz x007a foo bar baz y008a q100ab v101ab w102ab x103ab y104ab z105ab q106ab v107ab w108ab x109ab y110ab z111ab q112ab v113ab w114ab x115ab y116ab z117ab q118ab v119ab w120ab x121ab y122ab z123ab q124ab v125ab w126ab x127ab y128ab z129ab q130ab v131ab w132ab x133ab y134ab z135ab q136ab v137ab w138ab x139ab y140ab z141ab q142ab v143ab w144ab x145ab y146ab z147ab q148ab v149ab w150abcdefghij x151abcde"),
    (-3L, "the and foo bar y020a foo bar z021a foo bar q022a foo bar v023a foo bar w024a foo bar x025a foo bar y026a foo bar z027a foo bar q028a foo bar v029a y200ab z201ab q202ab v203ab w204ab x205ab y206ab z207ab q208ab v209ab w210ab x211ab y212ab z213ab q214ab v215ab w216ab x217ab y218ab z219ab q220ab v221ab w222ab x223ab y224ab z225abcdefghij q226abcdefgh"),
    (-4L, "the and foo bar y020a foo bar z021a foo bar q022a foo bar v023a foo bar w024a foo bar x025a foo bar y026a foo bar z027a foo bar q028a foo bar v029a y200ab z201ab q202ab v203ab w204ab x205ab y206ab z207ab q208ab v209ab w210ab x211ab y212ab z213ab q214ab v215ab w216ab x217ab y218ab z219ab q220ab v221ab w222ab x223ab y224abcdefghij z225abcdefghij"),
    (-5L, "the and aaaa bbbb cccc dddd eeee q040a aaaa bbbb cccc dddd eeee w300ab x301ab y302ab z303ab q304ab v305ab w306ab x307ab y308ab z309ab q310ab v311ab w312ab x313ab y314ab z315ab q316ab v317ab w318ab x319ab y320ab z321ab q322ab v323ab w324ab x325ab y326ab z327ab q328ab v329ab w330ab x331ab y332ab z333abcdefghij q334abcdef"),
    (-6L, "the and aaaa bbbb cccc dddd eeee q040a aaaa bbbb cccc dddd eeee w300ab x301ab y302ab z303ab q304ab v305ab w306ab x307ab y308ab z309ab q310ab v311ab w312ab x313ab y314ab z315ab q316ab v317ab w318ab x319ab y320ab z321ab q322ab v323ab w324ab x325ab y326ab z327ab q328ab v329ab w330ab x331ab y332ab z333abcdefghij q334abcd"),
    (-7L, "copyrightfooterallrightskept\nthe aa bb cc and\nmno pqr stu vwx yzz klm nop qrs tuv\ncopyrightfooterallrightskept\nwxy zab cde fgh ijk lmn opq rstuv"),
    (-8L, "copyrightfooterallrightskept\nthe aa bb cc and\nmno pqr stu vwx yzz klm nop qrs tuv\ncopyrightfooterallrightskept\nwxy zab cde fgh ijk lmn opq rstu"),
    (-9L, "the q400ab v401ab w402ab x403ab y404ab z405ab q406ab v407ab w408ab x409ab y410ab z411ab q412ab v413ab w414ab x415ab y416ab z417ab q418ab v419ab w420ab"),
    (-10L, "the q400ab v401ab w402ab x403ab y404ab z405ab q406ab v407ab w408ab x409ab y410ab z411ab q412ab v413ab w414ab x415ab y416ab z417ab q418ab v419ab w420ab and"))

  /** The COMPLETE Gopher quality filter
    * ([[graft.quality.GopherRules.withGopherKeep]]): the structural
    * battery, the FULL five-threshold repetition verdict (top-3-gram
    * ≤0.18 and dup-line-char ≤0.20 included), and the stop-word rule
    * (≥2 distinct of the 8 published words) composed into one keep.
    * The oracle replays all three families from scratch — the
    * structural and repetition replays are the same SQL the
    * q_gopher_rules / q_repetition rows grade, joined with a
    * list_intersect stop-word count — so a green row certifies the
    * COMPOSITION, not just the parts. The corpus is unioned with
    * [[gopherBoundaryDocs]], replayed as literal VALUES in the oracle,
    * so the diff certifies the threshold BOUNDARIES (≤ keeps exactly
    * at each published value), not just the bulk — the graded corpus
    * alone only exercises the rules far from their edges.
    */
  private def qGopherFull(cap: Long): Q = (s, dir) => {
    import s.implicits._
    // replica-0 slice since r17 (same decision + evidence as
    // [[qRepetition]], whose SQL this oracle embeds: the repetition
    // replay's count-map state exhausted DuckDB's memory AND spill
    // budgets at sf100r realistic). The boundary fixture (negative
    // doc_ids) rides the union unconditionally, so every threshold
    // stays graded exactly AT its published value at every decade.
    val base = rebalanced(tbl(s, dir, "documents").filter(col("doc_id") < cap))
      .select(col("doc_id"), col("text"))
    val fixture = gopherBoundaryDocs.toDF("doc_id", "text")
    graft.quality.GopherRules
      .withGopherKeep(base.unionByName(fixture), "text")
      .select(
        col("doc_id"), col("n_words"), col("keep_structural"),
        col("keep_repetition"), col("stopword_hits"), col("keep"))
  }

  private def qGopherFullSql(cap: Long): String = {
    import graft.text.RepetitionStats._
    val repKeep =
      s"""(r.dup_line_frac <= $MaxDupLineFrac AND r.dup_line_char_frac <= $MaxDupLineCharFrac
            AND r.top2gram_char_frac <= $MaxTop2Frac AND r.top3gram_char_frac <= $MaxTop3Frac
            AND r.dup5gram_char_frac <= $MaxDup5Frac)"""
    val stopList = graft.quality.GopherRules.StopWords.map(w => s"'$w'").mkString(", ")
    // the boundary fixture as literal VALUES; newlines via chr(10) so
    // the SQL string stays single-line for the JSON dump
    val values = gopherBoundaryDocs
      .map { case (id, t) => s"($id, '${t.replace("\n", "' || chr(10) || '")}')" }
      .mkString(",\n              ")
    // every component subquery reads FROM documents; route them all
    // through the unioned CTE instead (gdocs shadows nothing — the
    // name is unique to this row)
    val body =
      s"""SELECT s.doc_id, s.n_words,
          s.keep AS keep_structural,
          $repKeep AS keep_repetition,
          CAST(w.hits AS INT) AS stopword_hits,
          (s.keep AND $repKeep
             AND w.hits >= ${graft.quality.GopherRules.MinStopwordHits}) AS keep
        FROM (${graft.quality.GopherRules.sql}) s
        JOIN ($qRepetitionSql) r USING (doc_id)
        JOIN (SELECT doc_id,
                len(list_intersect(
                  list_filter(regexp_split_to_array(lower(coalesce(text, '')), '\\s+'), x -> x <> ''),
                  [$stopList])) AS hits
              FROM documents) w USING (doc_id)
        ORDER BY s.doc_id"""
    s"""WITH gdocs AS (
          SELECT doc_id, text FROM documents
          WHERE doc_id < $cap
          UNION ALL
          SELECT CAST(doc_id AS BIGINT) AS doc_id, text FROM (VALUES
              $values) t(doc_id, text))
        ${rerouteDocReads(body, "FROM gdocs")}"""
  }
  row(CatalogRow.capped("q_gopher_full", _.Replica0Cap)(qGopherFull, qGopherFullSql))
}
