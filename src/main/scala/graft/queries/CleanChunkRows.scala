package graft.queries

import graft.chunk.Chunker
import graft.clean.TextCleaner
import graft.embed.HashEmbedder
import graft.lang.LanguageDetect
import graft.model.ChunkerConfig
import graft.queries.CatalogSupport._
import graft.queries.QueryCatalog.Q
import graft.text.TextAnalysis
import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Cleaning, language and chunking rows: the C1–C12 cleaning battery over
  * noise-wrapped text, content/query/n-gram language detection, token
  * estimates, and the fixed, recursive and semantic chunkers (K1–K4).
  */
object CleanChunkRows extends CatalogFamily {

  /** Noise wrapped around each document so the battery has real work to
    * do in BOTH engines: HTML tags (C4), template tags (C5), URLs +
    * copyright/footer lines (C8), special chars outside the keep-set
    * (C9), plus Hangul that must pass through untouched. The noise is
    * deliberately constructed so the stages DuckDB's RE2 cannot express
    * (C3's lookarounds) are provable no-ops on it: no Korean noise
    * syllables, no single-capital runs, no letter-digit adjacency, no
    * `javascript:`/`function(`, no emoji, no chars outside C2's
    * whitelist. The old trim()-only oracle additionally proved the
    * battery is identity on the raw corpus, so corpus-side interactions
    * reduce to the same regexes running on the same string in both
    * engines.
    */
  private val CleanNoiseSuffix: String =
    " </div> {{#head}}tpl{{/head}} {% if x %} ${var} " +
      "see https://example.com/abc?q=1 and www.test.com here " +
      "Copyright 2024 All Rights Reserved Page 3 of 7 " +
      "alpha = beta & gamma 페이지"

  private def noisyText: Column =
    concat(lit("<div class='x'> "), col("text"), lit(CleanNoiseSuffix))

  // The same noisy column in DuckDB SQL (single quotes doubled).
  private val NoisySqlExpr: String =
    "'<div class=''x''> ' || text || ' </div> {{#head}}tpl{{/head}} {% if x %} ${var} " +
      "see https://example.com/abc?q=1 and www.test.com here " +
      "Copyright 2024 All Rights Reserved Page 3 of 7 " +
      "alpha = beta & gamma 페이지'"

  // DuckDB (RE2) replication of the battery stages that act on the
  // noisy corpus: C2 whitelist, C4 HTML, C5 templates, C8
  // header/footer/URL, C9 special chars, C10 whitespace, C11 line trim
  // + end trim. RE2 has no (?U), but after C1/C2 only ASCII + Hangul
  // survive and Hangul is explicit in the C9 class, so ASCII \w is
  // equivalent here. C2 reuses the EXACT Java pattern (plain char
  // class, RE2-compatible; only divergence is \x0B in \s, absent from
  // every corpus) — it is a no-op on the driver corpus but NOT on the
  // ScaleUp sf1 corpus, whose per-replica `_rN` token suffixes carry
  // underscores that C2 must space out in both engines.
  private def cleanSqlChain(input: String): String = {
    val c2Class = TextCleaner.AllowedCharsPattern.replace("'", "''")
    val c2 = s"regexp_replace($input, '$c2Class', ' ', 'g')"
    val c4 = s"regexp_replace($c2, '<[^>]+>', ' ', 'g')"
    val c5 = Seq(
      "(?i)\\{\\{#?/?[^}]+\\}\\}",
      "(?i)\\{%[^%]+%\\}",
      "(?i)\\$\\{[^}]+\\}",
      "(?i)<%[^%]+%>",
      "(?i)\\[\\[[^\\]]+\\]\\]"
    ).foldLeft(c4)((acc, p) => s"regexp_replace($acc, '$p', '', 'g')")
    val c8 = Seq(
      "(?im)Copyright.*?\\d{4}",
      "(?im)All [Rr]ights [Rr]eserved",
      "(?im)Page\\s*\\d+\\s*(of\\s*\\d+)?",
      "(?im)^\\s*\\d+\\s*$",
      "(?im)\\|\\s*Page\\s*\\d+",
      "(?im)www\\..*?\\.com",
      "(?im)http[s]?://(?:[a-zA-Z]|[0-9]|[$-_@.&+]|[!*\\\\(\\\\),]|(?:%[0-9a-fA-F][0-9a-fA-F]))+"
    ).foldLeft(c5)((acc, p) => s"regexp_replace($acc, '$p', '', 'g')")
    val c9 =
      s"regexp_replace($c8, '[^\\w\\s가-힣ㄱ-ㅎㅏ-ㅣa-zA-Z0-9.,!?;:''\"\\-()\\[\\]{}+@/·•]', ' ', 'g')"
    val c10 = s"regexp_replace(regexp_replace(regexp_replace($c9, " +
      "'[ \\t]+', ' ', 'g'), '\\n\\s*\\n', chr(10)||chr(10), 'g'), " +
      "'\\n{3,}', chr(10)||chr(10), 'g')"
    s"regexp_replace(regexp_replace(regexp_replace($c10, " +
      "'(?m)^[ \\t\\x0B\\f\\r]+|[ \\t\\x0B\\f\\r]+$', '', 'g'), " +
      "'\\n{3,}', chr(10)||chr(10), 'g'), '^\\s+|\\s+$', '', 'g')"
  }

  /** Full C1-C11 battery over noise-wrapped corpus text — the oracle
    * replicates C4/C5/C8/C9/C10/C11 as DuckDB regexp_replace chains, so
    * a green row certifies the battery transforms noisy text
    * identically in both engines. Korean/HWP-noise stages stay pinned
    * by the 145 TextCleanerSpec goldens (RE2 can't express their
    * lookarounds).
    */
  val qCleanBattery: Q = (s, dir) =>
    rebalanced(tbl(s, dir, "documents"))
      .select(col("doc_id"), TextCleaner.cleanText(noisyText).as("clean_text"))

  val qCleanBatterySql: String =
    s"""SELECT doc_id, ${cleanSqlChain(s"($NoisySqlExpr)")} AS clean_text
        FROM documents ORDER BY doc_id"""
  row(CatalogRow("q_clean_battery", qCleanBattery, qCleanBatterySql))

  /** C12 — HWP-strict clean over the same noisy column. On this corpus
    * (single-line docs — proven by the round-1 green trim oracle, which
    * would hash-mismatch on any multi-line doc) the line filter keeps
    * the single ≥10-char line, so the oracle is the battery chain plus
    * the observable flatten-all-whitespace quirk.
    */
  val qCleanHwp: Q = (s, dir) =>
    rebalanced(tbl(s, dir, "documents"))
      .select(col("doc_id"), TextCleaner.cleanHwpText(noisyText).as("clean_text"))

  val qCleanHwpSql: String =
    s"""SELECT doc_id, regexp_replace(regexp_replace(${cleanSqlChain(s"($NoisySqlExpr)")},
          '\\s+', ' ', 'g'), '^\\s+|\\s+$$', '', 'g') AS clean_text
        FROM documents ORDER BY doc_id"""
  row(CatalogRow("q_clean_hwp", qCleanHwp, qCleanHwpSql))

  /** One boundary-fixture document: `kr` hangul + `vi` diacritic +
    * `en` ASCII-letter chars, zero-digit-padded to EXACTLY 100 chars,
    * so every graded ratio is an exact k/100 rational whose IEEE
    * comparison behavior both engines share.
    */
  private def langDoc(kr: Int = 0, vi: Int = 0, en: Int = 0, viChar: String = "à"): String = {
    val s = ("가" * kr) + (viChar * vi) + ("a" * en)
    require(s.length <= 100)
    s + ("0" * (100 - s.length))
  }

  /** Boundary-fixture documents for the TWO divergent language
    * detectors (VERDICT r14 #7, the gopherBoundaryDocs pattern):
    * docs exactly AT and just above each published ratio threshold —
    * C14 content detect (kr > 0.10, vi > 0.02, en > 0.30, argmax
    * fallback with kr >= vi >= en tie order, empty → korean) and C15
    * query detect (kr > 0.1, vi > 0.05 on the LOWERED text, empty →
    * english) — so the oracle diff certifies the boundary semantics
    * (strict > excludes the exact threshold), the argmax tie order,
    * the divergent vi thresholds/empty defaults between the two
    * detectors, and C15's lower()-before-counting ('À' is only in
    * C15's set after lowering, and not in C14's raw set at all). The
    * en > 0.30 boundary has NO observable at/over flip on any single
    * doc — the argmax fallback returns english at en = 0.30 unless
    * kr/vi ≥ 0.30, which would trip their own earlier branches — so
    * the chain ORDER around it is pinned instead (kr over-threshold
    * beats en = 0.80). The same fixture unions into BOTH rows, so
    * every doc gets both detectors' verdicts. Constructed and
    * validated by tools/gen_lang_boundary.py (faithful replicas of
    * both detectors; re-run it when editing). Negative doc_ids
    * (-11..-23, disjoint from gopherBoundaryDocs' -1..-10) cannot
    * collide with any corpus at any sf.
    */
  private val langBoundaryDocs: Seq[(Long, String)] = Seq(
    (-11L, langDoc(kr = 10, en = 20)), // kr AT 0.10 → C14/C15 english
    (-12L, langDoc(kr = 11, en = 20)), // kr over → korean, both
    (-13L, langDoc(vi = 2, en = 20)),  // C14 vi AT 0.02 → english
    (-14L, langDoc(vi = 3, en = 20)),  // C14 vi over → vietnamese; C15 english (0.03 ≤ 0.05)
    (-15L, langDoc(vi = 5)),           // C15 vi AT 0.05 → english; C14 vietnamese
    (-16L, langDoc(vi = 6)),           // C15 vi over → vietnamese, both
    (-17L, langDoc(kr = 1, vi = 1)),   // C14 argmax tie kr ≥ vi → korean
    (-18L, langDoc(kr = 1, vi = 2)),   // C14 argmax vi ahead → vietnamese
    (-19L, langDoc(vi = 1, en = 1)),   // C14 argmax tie vi ≥ en → vietnamese
    (-20L, langDoc(vi = 1, en = 2)),   // C14 argmax en ahead → english
    (-21L, langDoc(kr = 15, en = 80)), // chain order: kr > 0.10 beats en = 0.80
    (-22L, ""),                        // divergent empty defaults: korean / english
    (-23L, langDoc(vi = 6, en = 1, viChar = "À"))) // C15 lower() set only → english / vietnamese

  /** The fixture as SQL VALUES (texts are letters/digits/diacritics
    * only — no quotes or newlines to escape).
    */
  private val langBoundaryValues: String = langBoundaryDocs
    .map { case (id, t) => s"($id, '$t')" }
    .mkString(",\n              ")

  private val langBoundaryCte: String =
    s"""ldocs AS (
          SELECT doc_id, text FROM documents
          UNION ALL
          SELECT CAST(doc_id AS BIGINT) AS doc_id, text FROM (VALUES
              $langBoundaryValues) t(doc_id, text))"""

  val qLangContent: Q = (s, dir) => {
    import s.implicits._
    rebalanced(tbl(s, dir, "documents"))
      .select(col("doc_id"), col("text"))
      .unionByName(langBoundaryDocs.toDF("doc_id", "text"))
      .select(col("doc_id"), LanguageDetect.detectContentLanguage(col("text")).as("language"))
  }

  /** C14 thresholds: korean>10%, viet>2%, english>30%, else argmax,
    * empty → korean. ASCII corpus → english when alpha>30%.
    */
  // Full threshold + argmax tiebreak chain (kr >= vi >= en), exactly
  // mirroring detectContentLanguage — no corpus-dependent ELSE shortcut.
  val qLangContentSql: String =
    s"""WITH $langBoundaryCte,
       c AS (
         SELECT doc_id,
           CAST(length(text) AS DOUBLE) AS total,
           CAST(length(text) - length(regexp_replace(text, '[가-힣]', '', 'g')) AS DOUBLE) AS kr,
           CAST(length(text) - length(regexp_replace(text, '[ăâđêôơưĂÂĐÊÔƠƯàáảãạèéẻẽẹìíỉĩịòóỏõọùúủũụỳýỷỹỵ]', '', 'g')) AS DOUBLE) AS vi,
           CAST(length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g')) AS DOUBLE) AS en
         FROM ldocs)
       SELECT doc_id, CASE
         WHEN total = 0 THEN 'korean'
         WHEN kr / total > 0.10 THEN 'korean'
         WHEN vi / total > 0.02 THEN 'vietnamese'
         WHEN en / total > 0.30 THEN 'english'
         WHEN kr / total >= vi / total AND kr / total >= en / total THEN 'korean'
         WHEN vi / total >= en / total THEN 'vietnamese'
         ELSE 'english' END AS language
       FROM c ORDER BY doc_id"""
  row(CatalogRow("q_lang_content", qLangContent, qLangContentSql))

  val qLangQuery: Q = (s, dir) => {
    import s.implicits._
    rebalanced(tbl(s, dir, "documents"))
      .select(col("doc_id"), col("text"))
      .unionByName(langBoundaryDocs.toDF("doc_id", "text"))
      .select(col("doc_id"), LanguageDetect.detectQueryLanguage(col("text")).as("language"))
  }

  val qLangQuerySql: String =
    s"""WITH $langBoundaryCte
       SELECT doc_id, CASE
         WHEN length(text) = 0 THEN 'english'
         WHEN length(text) - length(regexp_replace(text, '[가-힣]', '', 'g')) > 0.1 * length(text) THEN 'korean'
         WHEN length(lower(text)) - length(regexp_replace(lower(text), '[àáạảãâầấậẩẫăằắặẳẵèéẹẻẽêềếệểễìíịỉĩòóọỏõôồốộổỗơờớợởỡùúụủũưừứựửữỳýỵỷỹđ]', '', 'g')) > 0.05 * length(text) THEN 'vietnamese'
         ELSE 'english' END AS language
       FROM ldocs ORDER BY doc_id"""
  row(CatalogRow("q_lang_query", qLangQuery, qLangQuerySql))

  val qTokens: Q = (s, dir) =>
    tbl(s, dir, "documents")
      .select(
        col("doc_id"),
        LanguageDetect.estimateTokens(col("text")).as("est_tokens"),
        TextAnalysis.tokenCountWhitespace(col("text")).as("ws_tokens")
      )

  val qTokensSql: String =
    """SELECT doc_id,
       CAST(floor((length(text) - length(regexp_replace(text, '[가-힣]', '', 'g'))) / 1.5
            + length(regexp_replace(text, '[가-힣]', '', 'g')) / 4.0) AS INT) AS est_tokens,
       CASE WHEN length(trim(text)) = 0 THEN 0
            ELSE CAST(len(regexp_split_to_array(trim(text), '\s+')) AS INT) END AS ws_tokens
       FROM documents ORDER BY doc_id"""
  row(CatalogRow("q_tokens", qTokens, qTokensSql))

  private[queries] val FixedSize = 300

  private[queries] val FixedStride = 240 // size - overlap(60)

  /** Fixed-size/overlap chunk explode — the SQL-expressible chunker
    * used for oracle coverage of the Generator shape (posexplode, no
    * shuffle). The production recursive chunker is qChunkRecursive.
    */
  val qChunkFixed: Q = (s, dir) => {
    val d = tbl(s, dir, "documents")
    val len = length(col("text"))
    val n = when(len <= FixedSize, lit(1))
      .otherwise(ceil((len - FixedSize).cast("double") / FixedStride).cast("int") + 1)
    d.select(
      col("doc_id"),
      posexplode(
        transform(sequence(lit(0), n - 1), i => col("text").substr(i * FixedStride + 1, lit(FixedSize)))
      ).as(Seq("chunk_index", "chunk_text"))
    )
  }

  val qChunkFixedSql: String =
    raw"""WITH idx AS (
          SELECT doc_id, text, unnest(range(0,
            CASE WHEN length(text) <= $FixedSize THEN 1
                 ELSE CAST(ceil((length(text) - $FixedSize) / $FixedStride.0) AS INT) + 1 END)) AS i
          FROM documents)
        SELECT doc_id, CAST(i AS INT) AS chunk_index,
               substring(text, 1 + i*$FixedStride, $FixedSize) AS chunk_text
        FROM idx ORDER BY doc_id, chunk_index"""
  row(CatalogRow("q_chunk_fixed", qChunkFixed, qChunkFixedSql))

  /** K4 + C16 + C17 metadata on the fixed chunks: index, total, sizes,
    * md5-derived chunk_id — all derived from the exploded position,
    * zero shuffle.
    */
  val qChunkMeta: Q = (s, dir) => {
    val chunks = qChunkFixed(s, dir)
    val totals = Window.partitionBy(col("doc_id"))
    chunks
      .withColumn("total_chunks", count(lit(1)).over(totals).cast("int"))
      .withColumn("chunk_size_chars", length(col("chunk_text")))
      .withColumn("chunk_size_tokens", LanguageDetect.estimateTokens(col("chunk_text")))
      .withColumn(
        "chunk_id",
        Chunker.chunkId(concat(lit("doc"), col("doc_id")), col("chunk_index"), col("chunk_text"))
      )
      .select("doc_id", "chunk_index", "total_chunks", "chunk_size_chars", "chunk_size_tokens", "chunk_id")
  }

  val qChunkMetaSql: String =
    raw"""WITH idx AS (
          SELECT doc_id, text, unnest(range(0,
            CASE WHEN length(text) <= $FixedSize THEN 1
                 ELSE CAST(ceil((length(text) - $FixedSize) / $FixedStride.0) AS INT) + 1 END)) AS i
          FROM documents),
        chunks AS (
          SELECT doc_id, CAST(i AS INT) AS chunk_index,
                 substring(text, 1 + i*$FixedStride, $FixedSize) AS chunk_text
          FROM idx)
        SELECT doc_id, chunk_index,
          CAST(count(*) OVER (PARTITION BY doc_id) AS INT) AS total_chunks,
          CAST(length(chunk_text) AS INT) AS chunk_size_chars,
          CAST(floor(length(chunk_text) / 4.0) AS INT) AS chunk_size_tokens,
          substring(md5('doc' || doc_id || '_' || chunk_index || '_' || substring(chunk_text, 1, 50)), 1, 12) AS chunk_id
        FROM chunks ORDER BY doc_id, chunk_index"""
  row(CatalogRow("q_chunk_meta", qChunkMeta, qChunkMetaSql))

  /** The production hybrid chunker (K1 pass-through → K2 recursive
    * split → K3 merge). Fully oracled: on this corpus (single-space
    * text, no finer separators) the recursive splitter reduces to the
    * word-level greedy merge with overlap carry-over, which the DuckDB
    * oracle replays EXACTLY via two recursive CTEs over per-doc word
    * prefix sums — split boundaries (≤300 chars, 60-char overlap pop)
    * and the K3 small-chunk merge (<100 → join with \n, cap 500) —
    * plus the full K4 metadata (sizes, token estimate, md5 chunk_id).
    * ChunkerSpec still pins the general separator-hierarchy semantics
    * the corpus doesn't exercise.
    */
  private def qChunkRecursive(cap: Long): Q = (s, dir) =>
    Chunker
      .explodeChunks(
        rebalanced(tbl(s, dir, "documents").filter(col("doc_id") < cap))
          .select(col("doc_id"), col("source"), col("text")),
        "text",
        "source",
        ChunkerConfig.default
      )
      .select("doc_id", "source", "chunk_index", "total_chunks", "text", "chunk_size_chars", "chunk_size_tokens", "chunk_id")

  private def chunkOracle(finalSelect: String): String =
    chunkCtes + raw"""
          SELECT $finalSelect FROM enriched ORDER BY doc_id, chunk_index"""

  /** The two recursive-replay rows grade the replica-0 slice (r17):
    * DuckDB's recursive CTEs are non-spillable, and the mstate CTE
    * carries each doc's full chunk LIST per recursion step — on the
    * REALISTIC sf100r fixture (mostly-unique salted text, so no shared
    * string dictionary) both oracles exhausted a ~107 GB cap
    * (records/sweep_sf100r_r17.log), while the maximal sf100 fixture
    * passed in r13/r14 only because its text universe is tiny. Same
    * re-scope as q_pipeline_e2e (r14e): no-op at the driver sfs (cap >
    * max driver doc_id — the gate still compares the FULL corpus),
    * fixed-density slice at the ScaleUp decades. Full-corpus chunker
    * execution at scale stays covered by q_chunk_fixed / q_chunk_meta
    * (non-recursive oracles, PASS at sf100r with 20.2M rows).
    */
  private def qChunkRecursiveSql(cap: Long): String = rerouteDocReads(
    chunkOracle("doc_id, source, chunk_index, total_chunks, text, chunk_size_chars, chunk_size_tokens, chunk_id"),
    s"FROM (SELECT * FROM documents WHERE doc_id < $cap)")
  row(CatalogRow.capped("q_chunk_recursive", _.Replica0Cap)(qChunkRecursive, qChunkRecursiveSql))

  private def qChunkSemanticSql(cap: Long): String = rerouteDocReads(
    chunkOracle("doc_id, chunk_index, total_chunks, text, chunk_id"),
    s"FROM (SELECT * FROM documents WHERE doc_id < $cap)")

  /** K1 semantic-first hybrid chunking (sentence embeddings +
    * percentile-70 breakpoints, then K2/K3 size optimization).
    * Oracled: this corpus has no sentence boundaries (no `.!?` runs, no
    * newlines), so the semantic stage's own <2-sentences fallback
    * (SemanticSplitterSpec pins it) passes the text through and the
    * result is exactly the K2/K3 pipeline — the same recursive-CTE
    * oracle as q_chunk_recursive, projected to this query's columns.
    * SemanticSplitterSpec covers the breakpoint math the corpus can't.
    */
  private def qChunkSemantic(cap: Long): Q = (s, dir) => {
    val semantic = new graft.chunk.SemanticSplitter(new HashEmbedder(dim = 64))
    Chunker
      .explodeChunks(
        rebalanced(tbl(s, dir, "documents").filter(col("doc_id") < cap))
          .select(col("doc_id"), col("source"), col("text")),
        "text",
        "source",
        ChunkerConfig.default.copy(chunkingMode = "semantic_first"),
        Some(semantic)
      )
      .select("doc_id", "chunk_index", "total_chunks", "text", "chunk_id")
  }
  row(CatalogRow.capped("q_chunk_semantic", _.Replica0Cap)(qChunkSemantic, qChunkSemanticSql))

  /** Heuristic n-gram/script language ID, with the full CASE chain
    * (script ratios then Latin common-word argmax order) replicated in
    * the DuckDB oracle — every branch is encoded, not just the ones this
    * corpus exercises.
    */
  val qLangIdNgram: Q = (s, dir) =>
    rebalanced(tbl(s, dir, "documents"))
      .select(col("doc_id"), TextAnalysis.languageIdNgram(col("text")).as("lang_id"))

  val qLangIdNgramSql: String =
    raw"""WITH base AS (
            SELECT doc_id, lower(coalesce(text, '')) AS txt FROM documents),
          m AS (
            SELECT doc_id,
              greatest(length(txt), 1) * 1.0 AS total,
              (length(txt) - length(regexp_replace(txt, '[가-힣]', '', 'g'))) * 1.0 AS hangul,
              (length(txt) - length(regexp_replace(txt, '[\x{4E00}-\x{9FFF}]', '', 'g'))) * 1.0 AS cjk,
              (length(txt) - length(regexp_replace(txt, '[\x{3040}-\x{30FF}]', '', 'g'))) * 1.0 AS kana,
              (length(txt) - length(regexp_replace(txt, '[\x{0400}-\x{04FF}]', '', 'g'))) * 1.0 AS cyr,
              (length(txt) - length(regexp_replace(txt, '[ăâđêôơưàáảãạèéẻẽẹìíỉĩịòóỏõọùúủũụỳýỷỹỵ]', '', 'g'))) * 1.0 AS viet,
              list_filter(regexp_split_to_array(txt, '\s+'), t -> t <> '') AS toks
            FROM base),
          w AS (
            SELECT doc_id, total, hangul, cjk, kana, cyr, viet,
              greatest(len(toks), 1) * 1.0 AS ntok,
              len(list_filter(toks, t -> t IN ('the','and','of','to','is','in','that','it'))) * 1.0 AS en,
              len(list_filter(toks, t -> t IN ('der','die','das','und','ist','nicht','ein','zu'))) * 1.0 AS de,
              len(list_filter(toks, t -> t IN ('le','la','les','et','est','une','que','des'))) * 1.0 AS fr,
              len(list_filter(toks, t -> t IN ('el','los','las','es','una','que','por','con'))) * 1.0 AS es
            FROM m)
          SELECT doc_id,
            CASE WHEN hangul / total > 0.1 THEN 'ko'
                 WHEN kana / total > 0.05 THEN 'ja'
                 WHEN cjk / total > 0.1 THEN 'zh'
                 WHEN cyr / total > 0.1 THEN 'ru'
                 WHEN viet / total > 0.02 THEN 'vi'
                 WHEN de / ntok > en / ntok AND de / ntok > fr / ntok AND de / ntok > es / ntok AND de / ntok > 0 THEN 'de'
                 WHEN fr / ntok > en / ntok AND fr / ntok > es / ntok AND fr / ntok > 0 THEN 'fr'
                 WHEN es / ntok > en / ntok AND es / ntok > 0 THEN 'es'
                 WHEN en / ntok > 0 THEN 'en'
                 ELSE 'und' END AS lang_id
          FROM w ORDER BY doc_id"""
  row(CatalogRow("q_langid_ngram", qLangIdNgram, qLangIdNgramSql))
}
