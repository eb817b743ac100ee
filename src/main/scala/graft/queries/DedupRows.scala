package graft.queries

import graft.dedup.{Dedup, SemanticDedup}
import graft.queries.CatalogSupport._
import graft.queries.CleanChunkRows.{FixedSize, FixedStride, qChunkFixed}
import graft.queries.QueryCatalog.Q
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Dedup rows: exact (K5) and hot-key dedup, line dedup, n-gram/MinHash/
  * SimHash/embedding near-dup pairs and clusters, prefix-filtered Jaccard,
  * semantic dedup and k-means, span scrubbing, and benchmark
  * decontamination (exact, bloom-prefiltered and embedding-space).
  */
object DedupRows extends CatalogFamily {

  /** K5 exact dedup over the fixed chunks, keep-first by
    * (doc_id, chunk_index) — deterministic distributed "first".
    */
  val qDedupExact: Q = (s, dir) => {
    val chunks = qChunkFixed(s, dir)
    val w = Window.partitionBy(col("content_hash")).orderBy(col("doc_id"), col("chunk_index"))
    chunks
      .withColumn("content_hash", Dedup.contentHash(col("chunk_text")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select("doc_id", "chunk_index", "content_hash")
  }

  /** K5 keep-first via the hot-key-safe variant
    * ([[Dedup.exactDedupAggJoin]]): winner selection is a
    * map-side-combinable aggregate + left-semi join instead of a
    * window, so one astronomically hot duplicate group (the
    * boilerplate-page profile) cannot funnel into a single window
    * task. Winners are identical to q_dedup_exact by construction,
    * so the oracle is the window-formulation SQL verbatim — the row
    * grades that equivalence cross-engine on real data, on top of
    * DedupSpec's plan assert (aggregate, no Window).
    */
  val qDedupHotkey: Q = (s, dir) => {
    val keyed = qChunkFixed(s, dir)
      .withColumn("content_hash", Dedup.contentHash(col("chunk_text")))
      .select("doc_id", "chunk_index", "content_hash")
    Dedup.exactDedupAggJoin(keyed, "content_hash", Seq("doc_id", "chunk_index"))
  }

  val qDedupExactSql: String =
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
               md5(trim(regexp_replace(lower(chunk_text), '\s+', ' ', 'g'))) AS content_hash
        FROM chunks
        QUALIFY row_number() OVER (PARTITION BY content_hash ORDER BY doc_id, chunk_index) = 1
        ORDER BY doc_id, chunk_index"""
  row(CatalogRow("q_dedup_exact", qDedupExact, qDedupExactSql))
  row(CatalogRow("q_dedup_hotkey", qDedupHotkey, qDedupExactSql))

  /** Word-bigram Jaccard near-dup pairs via MinHash banding with exact
    * verification — the plan you'd run at 100 TB: candidates come from
    * an equi-join on (band, bucket) with an id-only shuffle (no
    * same-block all-pairs join anywhere; the round-2 language-blocked
    * bitmap variant was O(n²/#langs) — quadratic at scale with only ~5
    * blocks), then every candidate is re-checked with true 2-gram-set
    * Jaccard, so the exhaustive-self-join oracle certifies recall 1.0.
    * 64 hashes / 16 bands (r=4): per-pair miss probability 2e-4 at the
    * J=0.8 threshold, ~1e-12 at the J≥0.9 this corpus's true pairs sit
    * at — banding loss cannot realistically go red.
    *
    * Why n-GRAMS and not token sets: near-dup similarity needs a
    * discriminative universe for ANY candidate-pruning scheme to work.
    * On this shared-vocabulary corpus, unigram token sets give random
    * doc pairs J≈0.5 — measured: EVERY pruning strategy degenerates to
    * all-pairs (prefix filter 75 s, token-level LSH 190 s at sf0.1 —
    * both enumerate ~12.5 M candidates) and only popcount-cheap
    * all-pairs verification survives (the round-2 bitmap join). With
    * bigrams, random-pair similarity collapses toward 0, the banded
    * join prunes to the true near-dup clusters, and the same plan holds
    * at 100×. (Token-set Jaccard with a dense output is intrinsically
    * quadratic — the OUTPUT is Θ(n²); jaccardBitmapPairs remains the
    * library's kernel for that dense regime, spec-covered.)
    *
    * Graded slice capped at the replica-0 documents (doc_id < [[Replica0Cap]] =
    * the full sf0.1 corpus at every decade; no-op at driver sfs): the
    * oracle is DELIBERATELY the exhaustive all-pairs Jaccard self-join
    * (that exhaustiveness is what certifies banded recall 1.0), which
    * is quadratic in corpus size by construction — the cap keeps the
    * recall-1.0 certificate answer-checked at every decade at fixed
    * join density instead of skipping the fourth decade entirely (the
    * by-design-skip policy this replaces, round 14).
    */
  private def qNgramJaccard(cap: Long): Q = (s, dir) => {
    val pairs = Dedup.minHashLshPairs(
      rebalanced(tbl(s, dir, "documents").filter(col("doc_id") < cap)), "doc_id", "text",
      shingleSize = 2, numHashes = 64, bands = 16, jaccardThreshold = 0.8)
    // graded value exact-integer rounded from the verifier's inter/union_
    // (the ratio6 midpoint class, r17); threshold already compared raw
    pairs
      .select(col("id_a"), col("id_b"), ratio6Col("inter", "union_").as("jaccard"))
  }

  private def qNgramJaccardSql(cap: Long): String =
    raw"""WITH t AS (
            SELECT doc_id,
                   list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '') AS toks
            FROM documents WHERE doc_id < $cap),
          sh AS (
            SELECT doc_id,
                   list_distinct(CASE WHEN len(toks) = 0 THEN []::VARCHAR[]
                        WHEN len(toks) < 2 THEN [array_to_string(toks, ' ')]
                        ELSE list_transform(range(1, len(toks)),
                                            i -> toks[i] || ' ' || toks[i+1]) END) AS s
            FROM t),
          p AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   len(list_intersect(a.s, b.s)) AS i,
                   len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)) AS u
            FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
          -- exact-integer 6-dp HALF_UP (RepetitionStats.ratio6 mirror);
          -- the threshold compares the RAW ratio, identical to the engine
          SELECT id_a, id_b,
                 ((2 * i * 1000000 + u) // (2 * u)) / 1000000.0 AS jaccard
          FROM p WHERE u > 0 AND i * 1.0 / u >= 0.8
          ORDER BY id_a, id_b"""
  row(CatalogRow.capped("q_ngram_jaccard", _.Replica0Cap)(qNgramJaccard, qNgramJaccardSql))

  /** Corpus-wide line-level dedup survival stats (C4/RefinedWeb
    * boilerplate-line removal; see Dedup.lineDedupStats). The oracle
    * replays the whole keep-first-by-(doc_id,index) contract in DuckDB,
    * so green certifies the deterministic distributed "first", not just
    * the counts' shape.
    */
  val qLineDedup: Q = (s, dir) =>
    Dedup.lineDedupStats(rebalanced(tbl(s, dir, "documents")), "doc_id", "text")

  val qLineDedupSql: String =
    raw"""WITH t AS (
            SELECT doc_id, string_split(text, chr(10)) AS ls FROM documents),
          ex AS (
            SELECT doc_id, ls, unnest(range(0, len(ls))) AS i FROM t),
          lines AS (
            SELECT doc_id, CAST(i AS INT) AS idx, trim(ls[CAST(i AS INT) + 1]) AS ln FROM ex),
          ne AS (SELECT * FROM lines WHERE ln <> ''),
          kept AS (
            SELECT doc_id, idx FROM ne
            QUALIFY row_number() OVER (PARTITION BY ln ORDER BY doc_id, idx) = 1),
          totals AS (SELECT doc_id, count(*) AS n_lines FROM ne GROUP BY doc_id),
          kc AS (SELECT doc_id, count(*) AS n_kept FROM kept GROUP BY doc_id)
          SELECT t.doc_id, t.n_lines,
                 coalesce(k.n_kept, 0) AS n_kept,
                 ((2 * coalesce(k.n_kept, 0) * 1000000 + t.n_lines) // (2 * t.n_lines)) / 1000000.0 AS kept_ratio
          FROM totals t LEFT JOIN kc k USING (doc_id) ORDER BY doc_id"""
  row(CatalogRow("q_line_dedup", qLineDedup, qLineDedupSql))

  /** MinHash+LSH near-dup pairs. The minhash signatures themselves are
    * engine-specific (murmur-based), but the OUTPUT is the exact-verified
    * pair set — every candidate is re-checked with true shingle-set
    * Jaccard — so the oracle is the exhaustive 3-gram Jaccard self-join.
    * A hash-mismatch here means LSH recall dropped below 1.0 on this
    * corpus (banding missed a true pair) — exactly the regression this
    * row should catch. DedupSpec asserts the same equality in-JVM.
    *
    * Graded slice capped at the replica-0 documents (doc_id < [[Replica0Cap]] =
    * the full sf0.1 corpus at every decade; no-op at driver sfs): the
    * oracle is DELIBERATELY the exhaustive all-pairs Jaccard self-join
    * (that exhaustiveness is what certifies banded recall 1.0), which
    * is quadratic in corpus size by construction — the cap keeps the
    * recall-1.0 certificate answer-checked at every decade at fixed
    * join density instead of skipping the fourth decade entirely (the
    * by-design-skip policy this replaces, round 14).
    */
  private def qMinHashLsh(cap: Long): Q = (s, dir) =>
    Dedup
      .minHashLshPairs(rebalanced(tbl(s, dir, "documents").filter(col("doc_id") < cap)), "doc_id", "text", shingleSize = 3, numHashes = 32, bands = 8, jaccardThreshold = 0.8)
      .select(col("id_a"), col("id_b"), ratio6Col("inter", "union_").as("jaccard"))

  private def qMinHashLshSql(cap: Long): String =
    raw"""WITH t AS (
            SELECT doc_id,
                   list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '') AS toks
            FROM documents WHERE doc_id < $cap),
          sh AS (
            SELECT doc_id,
                   list_distinct(CASE WHEN len(toks) = 0 THEN []::VARCHAR[]
                        WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
                        ELSE list_transform(range(1, len(toks) - 1),
                                            i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) END) AS s
            FROM t),
          p AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   len(list_intersect(a.s, b.s)) AS i,
                   len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)) AS u
            FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
          -- exact-integer 6-dp HALF_UP (RepetitionStats.ratio6 mirror);
          -- the threshold compares the RAW ratio, identical to the engine
          SELECT id_a, id_b,
                 ((2 * i * 1000000 + u) // (2 * u)) / 1000000.0 AS jaccard
          FROM p WHERE u > 0 AND i * 1.0 / u >= 0.8
          ORDER BY id_a, id_b"""
  row(CatalogRow.capped("q_minhash_lsh", _.Replica0Cap)(qMinHashLsh, qMinHashLshSql))

  /** Near-dup CLUSTER assignment: connected components over the
    * exact-verified MinHash-LSH pair list (Dedup.nearDupClusters),
    * cluster id = min doc_id in the component. The oracle recomputes
    * the transitive closure from scratch in DuckDB — exhaustive
    * 3-gram-Jaccard pairs (the q_minhash_lsh universe), symmetric
    * edges, a recursive CTE for reachability, then min over the
    * reachable set — so a green row certifies BOTH that the pair list
    * still has recall 1.0 AND that the distributed label propagation
    * computed the same components as a from-first-principles closure.
    *
    * Graded slice capped at doc_id < [[Replica0CapSmall]] (the q_embed_neardup cap
    * size; a no-op at the sf0.01 driver gate): the oracle is
    * DELIBERATELY an exhaustive all-pairs Jaccard self-join PLUS a
    * recursive transitive closure — at the 5000-doc replica-0 slice
    * its sibling rows use, the DuckDB replay measured >60 min at sf100
    * (TIMEOUT, sweep100_r14g), so this row takes the smaller
    * fixed-density slice to keep its from-first-principles closure
    * answer-checked at every decade inside a sweep budget.
    */
  private def qDedupClusters(cap: Long): Q = (s, dir) => {
    val pairs = Dedup.minHashLshPairs(
      rebalanced(tbl(s, dir, "documents").filter(col("doc_id") < cap)), "doc_id", "text",
      shingleSize = 3, numHashes = 32, bands = 8, jaccardThreshold = 0.8)
    Dedup.nearDupClusters(pairs).select(col("id").as("doc_id"), col("cluster_id"))
  }

  private def qDedupClustersSql(cap: Long): String =
    raw"""WITH RECURSIVE t AS (
            SELECT doc_id,
                   list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '') AS toks
            FROM documents WHERE doc_id < $cap),
          sh AS (
            SELECT doc_id,
                   list_distinct(CASE WHEN len(toks) = 0 THEN []::VARCHAR[]
                        WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
                        ELSE list_transform(range(1, len(toks) - 1),
                                            i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) END) AS s
            FROM t),
          pairs AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b
            FROM sh a JOIN sh b ON a.doc_id < b.doc_id
            WHERE len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)) > 0
              AND len(list_intersect(a.s, b.s)) * 1.0 /
                  (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.8),
          edges AS (
            SELECT id_a AS src, id_b AS dst FROM pairs
            UNION SELECT id_b, id_a FROM pairs),
          reach AS (
            SELECT src, dst FROM edges
            UNION
            SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src)
          SELECT src AS doc_id, least(src, min(dst)) AS cluster_id
          FROM reach GROUP BY src ORDER BY doc_id"""
  row(CatalogRow.capped("q_dedup_clusters", _.Replica0CapSmall)(qDedupClusters, qDedupClustersSql))

  /** SimHash near-dup pairs, PORTABLE hash: the token hash is MD5-based
    * (see Dedup.tokenHash64) precisely so the 64-bit signatures — and
    * therefore the Hamming-distance pair set — are reproducible in the
    * DuckDB oracle, which recomputes every signature from scratch and
    * self-joins exhaustively. Green here certifies both the signature
    * math AND the banded candidate generation (bands = maxHamming + 1
    * pigeonhole recall is exact, so the banded set must equal the
    * exhaustive set).
    *
    * Graded slice capped at the replica-0 documents (doc_id < [[Replica0Cap]] =
    * the full sf0.1 corpus at every decade — the q_embed_neardup /
    * q_stream_neardup / q_scrub_spans cap pattern): the ORACLE is an
    * exhaustive n²/2 signature self-join by design (that is what makes
    * banded recall checkable), which at 5M docs is quadratic-infeasible
    * on any replay host — the round-13 sf100 sweep recorded q_simhash
    * TIMEOUT (> 1800 s) and q_simhash_fast DuckDB-OOM even in the
    * round-11 one-pass oracle form. The cap keeps the answer check at
    * every decade at fixed join density; the ENGINE side's full-corpus
    * decade cost is banded (linear) and ladder-measured (SCALE.md).
    */
  private def qSimHash(cap: Long): Q = (s, dir) =>
    Dedup.simHashPairs(
      rebalanced(tbl(s, dir, "documents").filter(col("doc_id") < cap)),
      "doc_id", "text", maxHamming = 6,
      portableHash = true)

  /** SimHash near-dup pairs through the PRODUCTION hash (Spark's XXH64
    * kernel, the library default — VERDICT r3 #5). The pair set is NOT
    * hash-independent on this corpus — the shared-vocab documents put
    * many doc pairs near the Hamming cut, so swapping the token hash
    * legitimately moves boundary pairs across it (measured 195 vs 71
    * pairs at sf0.001) — so a hash-agnostic oracle is impossible; the
    * oracle instead replays Spark's XXH64 kernel itself, rebuilt in
    * pure DuckDB SQL ([[Xxh64OracleSql]] — VERDICT r10 #1), and then
    * self-joins the recomputed signatures exhaustively exactly like
    * q_simhash. Green here certifies the production hash end-to-end:
    * signature math, banded candidate generation, AND the XXH64 kernel
    * bit-for-bit. Also the bench A/B row: same plan as q_simhash minus
    * MD5, so the per-token hash cost is directly measurable.
    * Replica-0 graded slice for the same reason as q_simhash (the
    * exhaustive oracle join is quadratic by design).
    */
  private def qSimHashFast(cap: Long): Q = (s, dir) =>
    Dedup.simHashPairs(
      rebalanced(tbl(s, dir, "documents").filter(col("doc_id") < cap)),
      "doc_id", "text", maxHamming = 6)

  private def qSimHashFastSql(cap: Long): String =
    // `toks` must stay SINGLE-referenced: DuckDB materializes any CTE
    // referenced twice, and the full (doc_id, tok) occurrence stream is
    // ~2.5e8 rows at sf10 — materializing it exhausted a 100GB pool
    // (round-11 sf10 sweep). The hash chain gets its own re-derived
    // token CTE (`tokd`, distinct-only, ~3k rows after dedup) so the
    // occurrence stream is inlined and flows straight into the
    // signature aggregate; with this split the sf10 oracle completes
    // in ~280 s where the double-reference form OOM'd.
    raw"""WITH toks AS (
            SELECT doc_id,
                   unnest(list_filter(regexp_split_to_array(lower(text), '\s+'), t -> t <> '')) AS tok
            FROM documents WHERE doc_id < $cap),
          tokd AS (
            SELECT unnest(list_filter(regexp_split_to_array(lower(text), '\s+'), t -> t <> '')) AS tok
            FROM documents WHERE doc_id < $cap),""" +
      Xxh64OracleSql.hashCtes("tokd") +
      raw""",
          th AS (SELECT doc_id, h FROM toks JOIN xh USING (tok)),
          """ + simHashSigsAndPairsSql
  row(CatalogRow.capped("q_simhash_fast", _.Replica0Cap)(qSimHashFast, qSimHashFastSql))

  /** Shared SimHash-oracle tail over a CTE `th(doc_id, h UBIGINT)`:
    * one-pass signature aggregation + the exhaustive pair join. The
    * obvious per-bit formulation (CROSS JOIN range(64), GROUP BY
    * (doc_id, i)) multiplies the token-occurrence stream 64× before
    * aggregating — 1.6e10 intermediate rows at sf10, which pushed the
    * oracle's peak past a 93GB pool (round-11 sweep). 64 inline
    * conditional sums aggregate the same majorities in ONE pass over
    * th with doc_id-only groups: measured 547 s @ ~100GB peak →
    * 182 s under a 48GB cap on the same corpus, identical rows.
    * Bit weights are literal powers of two because DuckDB
    * overflow-checks `<<` even for in-range UBIGINT shifts (the
    * Xxh64OracleSql lesson).
    */
  private lazy val simHashSigsAndPairsSql: String = {
    val terms = (0 until 64).map { i =>
      s"(CASE WHEN 2 * sum(CASE WHEN ((h >> $i) & 1::UBIGINT) = 1::UBIGINT THEN 1 ELSE 0 END)" +
        s" > count(*) THEN ${BigInt(1) << i}::UBIGINT ELSE 0::UBIGINT END)"
    }.mkString(" | ")
    raw"""sigs AS (
            SELECT doc_id, CAST($terms AS UBIGINT) AS sig
            FROM th GROUP BY doc_id)
          SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                 CAST(bit_count(xor(a.sig, b.sig)) AS INT) AS hamming
          FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
          WHERE bit_count(xor(a.sig, b.sig)) <= 6
          ORDER BY id_a, id_b"""
  }

  private def qSimHashSql(cap: Long): String =
    raw"""WITH toks AS (
            SELECT doc_id,
                   unnest(list_filter(regexp_split_to_array(lower(text), '\s+'), t -> t <> '')) AS tok
            FROM documents WHERE doc_id < $cap),
          th AS (
            SELECT doc_id, ('0x' || substring(md5(tok), 1, 16))::UBIGINT AS h FROM toks),
          """ + simHashSigsAndPairsSql
  row(CatalogRow.capped("q_simhash", _.Replica0Cap)(qSimHash, qSimHashSql))

  /** Embedding-cosine near-dup pairs with sign-bit blocking; the block
    * key is reproduced exactly in the oracle so both sides prune
    * identically. `signBits = 4` is PINNED here — the oracle's fixed
    * SQL must replay the identical key at every scale — which makes
    * this row's bench cost quadratic on the ScaleUp corpora twice
    * over: 16 fixed buckets stop bounding candidates (12.5M → 1.25G
    * pairs at sf1 → sf10, 123 s measured), and the perturbed replica
    * families are mutual near-dup CLIQUES, so even the true output
    * grows quadratically in replica count (267,875 output pairs at
    * sf1 — corpus artifact, the q_prefix_jaccard justification).
    *
    * The graded slice is therefore capped at `vec_id < Replica0CapSmall` — the
    * full driver corpus at every driver sf (sf0.1 is exactly vec_id
    * 0..1999, so no driver-graded row changes), and exactly the
    * replica-0 originals on ScaleUp corpora, where key-offsetting
    * puts replicas at vec_id ≥ 10^7. The cap grades key parity and
    * exact-cosine verify at fixed density; the SCALE PATH is graded
    * by q_embed_neardup_adaptive below, whose width grows with the
    * corpus ([[graft.dedup.Dedup.adaptiveSignBits]]) and whose bench
    * cost stays linear at any sf (VERDICT r9 #3).
    */
  private def qEmbedNearDup(cap: Long): Q = (s, dir) => {
    val pairs = Dedup.embeddingNearDupPairs(
      tbl(s, dir, "embeddings").filter(col("vec_id") < cap),
      "vec_id", "embedding", 0.3, signBits = 4)
    pairs
      .select(col("id_a"), col("id_b"), round(col("cosine"), 4).as("cosine"))
  }

  private def qEmbedNearDupSql(cap: Long): String =
    s"""WITH t AS (
         SELECT vec_id, embedding::DOUBLE[] AS v,
                (CASE WHEN embedding[1] >= 0 THEN 1 ELSE 0 END)
              + (CASE WHEN embedding[2] >= 0 THEN 2 ELSE 0 END)
              + (CASE WHEN embedding[3] >= 0 THEN 4 ELSE 0 END)
              + (CASE WHEN embedding[4] >= 0 THEN 8 ELSE 0 END) AS bkt
         FROM embeddings WHERE vec_id < $cap)
       SELECT a.vec_id AS id_a, b.vec_id AS id_b,
              round(list_dot_product(a.v, b.v) / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 4) AS cosine
       FROM t a JOIN t b ON a.bkt = b.bkt AND a.vec_id < b.vec_id
       WHERE list_dot_product(a.v, b.v) / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= 0.3
       ORDER BY id_a, id_b"""
  row(CatalogRow.capped("q_embed_neardup", _.Replica0CapSmall)(qEmbedNearDup, qEmbedNearDupSql))

  /** Embedding-cosine near-dup with the operator's PRODUCTION default:
    * blocking width derived from the corpus size
    * ([[graft.dedup.Dedup.adaptiveSignBits]] — width ∝ log2(n), so
    * expected per-bucket population and therefore candidate pairs stay
    * LINEAR in n at any scale; the round-9 sf10 probe measured
    * pinned-4 at 123 s vs seconds adaptive). Unlike the pinned row
    * above this runs the FULL embeddings table at every sf — it is the
    * catalog's evidence that the default configuration survives
    * scale-up. The oracle replays the adaptive width formula itself
    * (count → clamp(4, 24, ceil(log2(n/4096)))), so both sides derive
    * the same key at every scale factor — a full recompute oracle, not
    * a rows-only check.
    *
    * The graded OUTPUT is a one-row certificate over the full pair set
    * — pair count, an integer checksum of the 4-decimal cosines
    * (sum of round(cosine·10⁴), exact integer arithmetic on both
    * engines), the distinct left-id count, and a modular id checksum —
    * rather than the raw pairs. The ScaleUp replica families are
    * mutual near-dup CLIQUES, so the raw pair set grows ~quadratically
    * in replica count (~608M rows at sf100): materializing it is what
    * heap-OOM'd the round-13 sf100 verify twice (sweep100_r13{b,c}
    * logs), and no replay host can sort/hash 608M result rows to
    * compare them anyway. The certificate keeps the row a FULL
    * recompute at every decade — both engines must derive the same
    * adaptive width, the same blocking, and the same 4-decimal cosine
    * on every pair to land the same sums — with O(1) output. Pair-
    * LEVEL value grading stays with q_embed_neardup above (pinned
    * slice, fixed density).
    */
  val qEmbedNearDupAdaptive: Q = (s, dir) => {
    val pairs = Dedup.embeddingNearDupPairs(
      tbl(s, dir, "embeddings"), "vec_id", "embedding", 0.3)
    pairs.agg(
      count(lit(1)).as("n_pairs"),
      sum(round(col("cosine") * 10000, 0).cast("long")).as("sum_cos4"),
      countDistinct(col("id_a")).as("n_distinct_a"),
      sum(pmod(col("id_a") + col("id_b"), lit(1000003L))).as("sum_ids_mod"))
  }

  val qEmbedNearDupAdaptiveSql: String =
    """WITH bits AS (
         SELECT least(24, greatest(4, CAST(ceil(log2(greatest(count(*) / 4096.0, 1.0))) AS INT))) AS b
         FROM embeddings),
       t AS (
         SELECT vec_id, embedding::DOUBLE[] AS v,
                list_sum(list_transform(range(0, (SELECT b FROM bits)),
                  i -> CASE WHEN embedding[CAST(i AS INT) + 1] >= 0
                            THEN CAST(1 AS BIGINT) << CAST(i AS INT) ELSE 0 END)) AS bkt
         FROM embeddings),
       p AS (
         SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                list_dot_product(a.v, b.v) / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) AS cos
         FROM t a JOIN t b ON a.bkt = b.bkt AND a.vec_id < b.vec_id
         WHERE list_dot_product(a.v, b.v) / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= 0.3)
       SELECT count(*) AS n_pairs,
              CAST(sum(CAST(round(cos * 10000) AS BIGINT)) AS BIGINT) AS sum_cos4,
              CAST(count(DISTINCT id_a) AS BIGINT) AS n_distinct_a,
              CAST(sum((id_a + id_b) % 1000003) AS BIGINT) AS sum_ids_mod
       FROM p"""
  row(CatalogRow("q_embed_neardup_adaptive", qEmbedNearDupAdaptive, qEmbedNearDupAdaptiveSql))

  /** Recall grading for banded sign-bit LSH
    * ([[graft.dedup.Dedup.embeddingNearDupPairsBanded]]) against
    * brute-force ground truth, on a planted near-dup corpus: every
    * sliced vector gets a partner with deterministic per-component
    * jitter (±6·0.008 lattice, hash-free so both engines replay it),
    * giving true pairs at cosine ≈ 0.97 whose component signs flip
    * ~8% of the time. A single 8-bit band (one band's width; the
    * adaptive width reaches 8 near 10^6 rows) then keeps a pair only
    * if NO flip lands in its window — recall ≈ 0.5 — while 8 bands of
    * 8 bits need just one clean window of eight: recall ≈ 0.99. The
    * row outputs both measured recalls; the oracle recomputes brute
    * force, both key families, and the division. DedupSpec pins the
    * ≥ 0.9 banded floor; this row grades the exact values.
    */
  private def qEmbedNearDupBanded(cap: Long): Q = (s, dir) => {
    val slice = tbl(s, dir, "embeddings")
      .filter(col("vec_id") < cap)
    val base = slice.select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
    // jitter first, negate second: in a single projection the lambda's
    // vec_id would lateral-bind to the NEW (-vec_id - 1) alias
    val planted = slice
      .select(
        col("vec_id"),
        transform(
          col("embedding").cast("array<double>"),
          (x, i) => x + ((col("vec_id") * 31 + i * 17) % 13 - 6) * lit(0.008)
        ).as("embedding"))
      .select((-col("vec_id") - 1).as("vec_id"), col("embedding"))
    val u = base.unionByName(planted)
    // maxRowsHint: u is base + planted, each capped at Replica0CapSmall
    // rows, so 2·cap bounds it — the size gate picks the monolithic
    // loop (VERDICT r19 #3) without spending a count() job
    val nTrue = Dedup
      .bruteForceCosinePairs(u, "vec_id", "embedding", 0.95, maxRowsHint = 2 * cap)
      .agg(count(lit(1)).as("n_true"))
    val single = Dedup.embeddingNearDupPairs(u, "vec_id", "embedding", 0.95, signBits = 8)
      .agg(count(lit(1)).as("single_found"))
    val banded = Dedup
      .embeddingNearDupPairsBanded(u, "vec_id", "embedding", 0.95, bands = 8, bitsPerBand = 8)
      .agg(count(lit(1)).as("banded_found"))
    nTrue.crossJoin(single).crossJoin(banded)
      // recall fractions are integer ratios — exact-integer 4-dp HALF_UP
      // (ratioCol; the r16 midpoint class at a different dp). n_true > 0
      // by construction: the planted near-dup twins guarantee true pairs.
      .select(
        col("n_true"), col("single_found"), col("banded_found"),
        ratioCol("single_found", "n_true", 10000L).as("recall_single"),
        ratioCol("banded_found", "n_true", 10000L).as("recall_banded"))
  }

  private def qEmbedNearDupBandedSql(cap: Long): String =
    s"""WITH base AS (
         SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id < $cap),
       planted AS (
         SELECT vec_id AS src_id,
                list_transform(range(0, len(v)),
                  i -> v[CAST(i AS INT) + 1] + ((vec_id * 31 + i * 17) % 13 - 6) * 0.008) AS v
         FROM base),
       u AS (SELECT vec_id, v FROM base
             UNION ALL SELECT -src_id - 1 AS vec_id, v FROM planted),
       keys AS (
         SELECT vec_id,
                list_transform(range(0, 8), b ->
                  list_sum(list_transform(range(0, 8), i ->
                    CASE WHEN v[CAST(b * 8 + i AS INT) + 1] >= 0
                         THEN CAST(1 AS BIGINT) << CAST(i AS INT) ELSE CAST(0 AS BIGINT) END))) AS bks
         FROM u),
       brute AS (
         SELECT a.vec_id AS ia, b.vec_id AS ib
         FROM u a JOIN u b ON a.vec_id < b.vec_id
         WHERE list_dot_product(a.v, b.v) / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= 0.95),
       j AS (
         SELECT ka.bks AS ba, kb.bks AS bb
         FROM brute JOIN keys ka ON ka.vec_id = brute.ia JOIN keys kb ON kb.vec_id = brute.ib),
       counts AS (
         SELECT count(*) AS n_true,
                CAST(sum(CASE WHEN ba[1] = bb[1] THEN 1 ELSE 0 END) AS BIGINT) AS single_found,
                CAST(sum(CASE WHEN len(list_filter(range(1, 9), b -> ba[CAST(b AS INT)] = bb[CAST(b AS INT)])) > 0 THEN 1 ELSE 0 END) AS BIGINT) AS banded_found
         FROM j)
       -- recall = found/n_true, exact-integer 4-dp HALF_UP (the
       -- RepetitionStats.ratio6 mirror at scale 10^4)
       SELECT n_true, single_found, banded_found,
              ((2 * single_found * 10000 + n_true) // (2 * n_true)) / 10000.0 AS recall_single,
              ((2 * banded_found * 10000 + n_true) // (2 * n_true)) / 10000.0 AS recall_banded
       FROM counts"""
  row(CatalogRow.capped("q_embed_neardup_banded", _.Replica0CapSmall)(qEmbedNearDupBanded, qEmbedNearDupBandedSql))

  /** Benchmark decontamination over the corpus: every 50th document
    * stands in for an eval set; corpus docs containing ≥ half of a
    * "benchmark" item's distinct 8-gram shingles are flagged. Oracle:
    * an inverted-index gram join in DuckDB (gram → doc postings,
    * count shared grams per pair, divide by the bench side's gram
    * count) — the same shape the operator uses, so the oracle stays
    * linear-ish and survives the sf10 sweep where the earlier
    * pairwise list_intersect scan exceeded the 600 s budget.
    */
  val qDecontaminate: Q = (s, dir) => {
    val docs = rebalanced(tbl(s, dir, "documents"))
    val bench = docs.filter(col("doc_id") % 50 === 0)
    Dedup
      .containmentPairs(docs, bench, "doc_id", "text", n = 8, threshold = 0.5)
      .select(col("doc_id"), col("bench_id"), ratio6Col("inter", "bench_sz").as("containment"))
  }

  val qDecontaminateSql: String =
    raw"""WITH tokens AS (
            SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '') AS toks
            FROM documents),
          sh AS (
            SELECT doc_id,
                   list_distinct(CASE WHEN len(toks) = 0 THEN []::VARCHAR[]
                        WHEN len(toks) < 8 THEN [array_to_string(toks, ' ')]
                        ELSE list_transform(range(1, len(toks) - 6),
                          i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3] || ' ' ||
                               toks[i+4] || ' ' || toks[i+5] || ' ' || toks[i+6] || ' ' || toks[i+7]) END) AS s
            FROM tokens),
          cg AS (SELECT doc_id, unnest(s) AS g FROM sh),
          bg AS (SELECT doc_id AS bench_id, unnest(s) AS g FROM sh WHERE doc_id % 50 = 0),
          bsz AS (SELECT doc_id AS bench_id, len(s) AS bench_sz FROM sh WHERE doc_id % 50 = 0),
          inter AS (
            SELECT cg.doc_id, bg.bench_id, count(*) AS i
            FROM cg JOIN bg ON cg.g = bg.g AND cg.doc_id <> bg.bench_id
            GROUP BY 1, 2)
          SELECT i.doc_id, i.bench_id,
                 ((2 * i.i * 1000000 + b.bench_sz) // (2 * b.bench_sz)) / 1000000.0 AS containment
          FROM inter i JOIN bsz b USING (bench_id)
          WHERE i.i * 1.0 / b.bench_sz >= 0.5
          ORDER BY i.doc_id, bench_id"""
  row(CatalogRow("q_decontaminate", qDecontaminate, qDecontaminateSql))

  /** Decontamination through the BLOOM-PREFILTERED path
    * (Dedup.bloomContainmentPairs): a bloom over the benchmark grams
    * prunes the corpus gram stream at scan stage, before any shuffle —
    * the shape that survives benchmark suites too large to broadcast
    * as a full index. Bloom filters have no false negatives and
    * survivors still pass the exact gram join, so the result is
    * IDENTICAL to q_decontaminate at any fpp — same DuckDB oracle, and
    * a green row certifies the whole prefilter+verify pipeline.
    */
  val qDecontaminateBloom: Q = (s, dir) => {
    val docs = rebalanced(tbl(s, dir, "documents"))
    val bench = docs.filter(col("doc_id") % 50 === 0)
    Dedup
      .bloomContainmentPairs(docs, bench, "doc_id", "text", n = 8, threshold = 0.5, fpp = 0.01)
      .select(col("doc_id"), col("bench_id"), ratio6Col("inter", "bench_sz").as("containment"))
  }

  val qDecontaminateBloomSql: String = qDecontaminateSql
  row(CatalogRow("q_decontaminate_bloom", qDecontaminateBloom, qDecontaminateBloomSql))

  /** Prefix-filtered set-similarity join, driver-graded: the
    * open-vocabulary exact-Jaccard scale path (rarest-token prefix
    * index — hot tokens never drive the candidate join) must produce
    * EXACTLY the exhaustive pairwise word-token Jaccard the oracle
    * computes: green == recall 1.0 for the prefix filter, same
    * contract as q_ngram_jaccard for the bigram inverted index.
    *
    * The graded slice is capped at 500 docs: this synthetic corpus is
    * near-dup SATURATED (30k qualifying pairs in 500 docs), so the
    * exact pair OUTPUT — for any algorithm — grows quadratically with
    * corpus size, as does the exhaustive oracle that certifies it.
    * The cap grades algorithmic parity at fixed density; the
    * operator's scale property (rarest-token prefix keeps hot tokens
    * out of the candidate join) is what DedupSpec asserts, and on a
    * real open-vocabulary corpus the output is sparse.
    */
  private def qPrefixJaccard(cap: Long): Q = (s, dir) => {
    val d = tbl(s, dir, "documents").filter(col("doc_id") < cap)
    // No trailing orderBy (r19): the driver sorts rows before hashing
    // (same contract every full-output row relies on), and the range
    // partitioner's bounds-sampling pass was EXECUTING the verify-join
    // subtree a second time — the r19 profile showed two back-to-back
    // ~1 s single-task verify stages for one query. Output row set is
    // unchanged; the oracle's ORDER BY only canonicalizes its side.
    Dedup
      .prefixJaccardPairs(d, "doc_id", "text", threshold = 0.8)
      .select(col("id_a"), col("id_b"), ratio6Col("inter", "union_").as("jaccard"))
  }

  private def qPrefixJaccardSql(cap: Long): String =
    raw"""WITH t AS (
            SELECT doc_id,
                   list_distinct(list_filter(regexp_split_to_array(lower(text), '\s+'),
                                             x -> x <> '')) AS s
            FROM documents WHERE doc_id < $cap),
          p AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   len(list_intersect(a.s, b.s)) AS i,
                   len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)) AS u
            FROM t a JOIN t b ON a.doc_id < b.doc_id)
          -- exact-integer 6-dp HALF_UP (RepetitionStats.ratio6 mirror);
          -- the threshold compares the RAW ratio, identical to the engine
          SELECT id_a, id_b,
                 ((2 * i * 1000000 + u) // (2 * u)) / 1000000.0 AS jaccard
          FROM p WHERE u > 0 AND i * 1.0 / u >= 0.8
          ORDER BY id_a, id_b"""
  row(CatalogRow.capped("q_prefix_jaccard", _.Replica0CapTiny)(qPrefixJaccard, qPrefixJaccardSql))

  /** Fixed pivot vectors for the semantic-dedup/k-means rows: the
    * embeddings of vec_id 0..7, in id order — deterministic on both
    * engines, collected once per call (8 × 64 floats).
    */
  private def pivotVecs(s: SparkSession, dir: String): Seq[Array[Float]] =
    tbl(s, dir, "embeddings")
      .filter(col("vec_id") < 8)
      .orderBy("vec_id")
      .select("embedding")
      .collect()
      .map(_.getSeq[Float](0).toArray)
      .toSeq

  /** SemDeDup ([[graft.dedup.SemanticDedup]]): cluster the embedding
    * space, drop within-cluster rows dominated by a ≥0.3-similar
    * smaller id, return the survivors. Graded with FIXED pivots
    * (vec_id 0..7) so the DuckDB oracle replays assignment, pairing,
    * and the keep rule exactly; the production path trains pivots with
    * k-means and scales k with the corpus (semanticDedupAuto,
    * spec-pinned — MLlib fit is not engine-portable). The graded
    * slice is capped at vec_id < Replica0CapSmall for the same reason as
    * q_embed_neardup: 8 fixed clusters stop bounding pair volume on
    * the ScaleUp corpora; the cap grades the machinery at fixed
    * density while the auto variant owns the scale path.
    */
  private def qSemanticDedup(cap: Long): Q = (s, dir) => {
    // zero-norm guard (ADVICE r12): the engine sends a zero vector to
    // the LAST pivot while the oracle's NULL-cosine ordering would rank
    // it first — no corpus ships one, but the row must not depend on it
    val e = tbl(s, dir, "embeddings")
      .filter(col("vec_id") < cap)
      .filter(graft.functions.VectorFunctions.dotProduct(col("embedding"), col("embedding")) > 0)
    SemanticDedup
      .semanticDedup(e.select("vec_id", "embedding"), "vec_id", "embedding",
        pivotVecs(s, dir), tau = 0.3)
      .select(col("vec_id"), col("cluster"))
  }

  private def qSemanticDedupSql(cap: Long): String =
    s"""WITH t AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
                  WHERE vec_id < $cap AND list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0),
       p AS (SELECT vec_id AS pid, v AS pv FROM t WHERE vec_id < 8),
       a AS (SELECT t.vec_id, t.v, p.pid,
             list_dot_product(t.v, p.pv) / (sqrt(list_dot_product(t.v, t.v)) * sqrt(list_dot_product(p.pv, p.pv))) AS cos
             FROM t CROSS JOIN p),
       asg AS (SELECT vec_id, v, pid AS cluster FROM a
               QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, pid) = 1),
       removed AS (SELECT DISTINCT b.vec_id FROM asg a JOIN asg b
                   ON a.cluster = b.cluster AND a.vec_id < b.vec_id
                   AND list_dot_product(a.v, b.v) / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= 0.3)
       SELECT vec_id, CAST(cluster AS INT) AS cluster FROM asg
       WHERE vec_id NOT IN (SELECT vec_id FROM removed) ORDER BY vec_id"""
  row(CatalogRow.capped("q_semantic_dedup", _.Replica0CapSmall)(qSemanticDedup, qSemanticDedupSql))

  /** One EXACT Lloyd step ([[graft.dedup.SemanticDedup.lloydStep]]):
    * nearest-pivot assignment (shuffle-free projection, pivots as
    * codegen literals) + one map-side-combinable aggregate producing
    * the updated centroids, populations, and cluster tightness. This
    * upgrades the k-means story from rows-only (MLlib fit inside IVF
    * build) to a full DuckDB-replayed oracle: the oracle recomputes
    * the same step from the raw arrays; round(9) absorbs partial-sum
    * reordering exactly as q_vector_mean does. Runs the FULL
    * embeddings table at every sf — assignment is linear, the
    * aggregate is k rows.
    */
  val qKmeansStep: Q = (s, dir) =>
    SemanticDedup
      .lloydStep(
        // zero-norm guard — same engine/oracle divergence as
        // q_semantic_dedup (ADVICE r12)
        tbl(s, dir, "embeddings").filter(
          graft.functions.VectorFunctions.dotProduct(col("embedding"), col("embedding")) > 0),
        "embedding", pivotVecs(s, dir))
      .select(
        col("cluster"), col("n"),
        round(element_at(col("__m"), 1), 9).as("mean_d1"),
        round(element_at(col("__m"), 33), 9).as("mean_d33"),
        round(col("__mc"), 9).as("mean_cos"))

  val qKmeansStepSql: String =
    """WITH t AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
                  WHERE list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0),
       p AS (SELECT vec_id AS pid, v AS pv FROM t WHERE vec_id < 8),
       a AS (SELECT t.vec_id, t.v, p.pid,
             list_dot_product(t.v, p.pv) / (sqrt(list_dot_product(t.v, t.v)) * sqrt(list_dot_product(p.pv, p.pv))) AS cos
             FROM t CROSS JOIN p),
       asg AS (SELECT vec_id, v, pid AS cluster, cos FROM a
               QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, pid) = 1)
       SELECT CAST(cluster AS INT) AS cluster, count(*) AS n,
              round(avg(v[1]), 9) AS mean_d1, round(avg(v[33]), 9) AS mean_d33,
              round(avg(cos), 9) AS mean_cos
       FROM asg GROUP BY 1 ORDER BY 1"""
  row(CatalogRow("q_kmeans_step", qKmeansStep, qKmeansStepSql))

  /** Duplicate-span scrubbing
    * ([[graft.dedup.Dedup.scrubDuplicateSpans]]): every token covered
    * by a corpus-duplicated 8-gram is removed from EVERY occurrence —
    * the token-granular ExactSubstr recipe (Lee et al. 2022) as
    * aggregates and semi-joins. The oracle rebuilds the scrubbed
    * token stream from scratch (gram counting, span cover, ordered
    * string_agg) and must match string-for-string.
    *
    * Graded slice capped at the replica-0 documents (doc_id < [[Replica0Cap]] =
    * the full sf0.1 corpus at every decade; ScaleUp key-offsetting
    * puts replicas at doc_id ≥ 10^7 — the q_embed_neardup /
    * q_stream_neardup cap pattern): the ScaleUp fixture is maximal-
    * duplication by construction (~every gram duplicated within each
    * replica family), so an uncapped row materializes ~the whole gram
    * stream as "duplicated-ish" — it ENOSPC'd the sf100 sweep twice
    * (r13a, r13c) while measuring the FIXTURE's duplication density,
    * not the operator. The cap grades gram counting, span merge and
    * rebuild string-for-string at fixed density; the operator's
    * full-corpus decade cost is ladder-measured (SCALE.md).
    */
  private def qScrubSpans(cap: Long): Q = (s, dir) =>
    // docCountHint: the capped slice holds at most Replica0Cap docs at
    // any decade, so the prefilter decision needs no eager count and
    // the row stays fully lazy (ADVICE r14)
    Dedup.scrubDuplicateSpans(
      rebalanced(tbl(s, dir, "documents").filter(col("doc_id") < cap)),
      "doc_id", "text", n = 8, docCountHint = Some(cap))

  private def qScrubSpansSql(cap: Long): String =
    raw"""WITH arrs AS (
            SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '') AS a
            FROM documents WHERE doc_id < $cap),
          grams AS (
            SELECT doc_id, CAST(i AS INT) AS start, array_to_string(a[i:i+7], ' ') AS g
            FROM arrs, unnest(range(1, len(a) - 6)) AS t(i)),
          dup AS (SELECT g FROM grams GROUP BY g HAVING count(*) > 1),
          covered AS (
            SELECT DISTINCT doc_id, start + CAST(o AS INT) AS pos
            FROM grams JOIN dup USING (g), unnest(range(0, 8)) AS u(o)),
          toks AS (
            SELECT doc_id, tok, CAST(pos AS INT) AS pos FROM (
              SELECT doc_id, unnest(a) AS tok, generate_subscripts(a, 1) AS pos FROM arrs)),
          kept AS (
            SELECT t.doc_id, t.tok, t.pos
            FROM toks t LEFT JOIN covered c ON t.doc_id = c.doc_id AND t.pos = c.pos
            WHERE c.doc_id IS NULL),
          reb AS (
            SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS ct, count(*) AS nk
            FROM kept GROUP BY doc_id)
          SELECT a.doc_id, coalesce(r.ct, '') AS clean_text,
                 len(a.a) - coalesce(r.nk, 0) AS n_removed
          FROM arrs a LEFT JOIN reb r USING (doc_id) ORDER BY a.doc_id"""
  row(CatalogRow.capped("q_scrub_spans", _.Replica0Cap)(qScrubSpans, qScrubSpansSql))

  /** Embedding-space decontamination ([[graft.dedup.SemanticDecon]]):
    * benchmark set = the 64 lowest vec_id ≡ 0 (mod 97) vectors (a small
    * eval suite by construction at every sf), corpus = everything else;
    * flag corpus vectors within cosine 0.3 of any benchmark vector with
    * the argmax benchmark id. The bench collect is k-row driver
    * altitude (≤ 64 rows); the scan itself is join- and shuffle-free
    * (plan-asserted in SemanticDeconSpec). The oracle replays the full
    * argmax: rank bench by (cosine DESC, bench_id) per corpus vector.
    */
  val qSemanticDecontam: Q = (s, dir) => {
    val emb = tbl(s, dir, "embeddings")
    val bench = emb.filter(col("vec_id") % 97 === 0)
      .orderBy("vec_id").limit(64)
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toSeq
    graft.dedup.SemanticDecon
      .flag(rebalanced(emb.filter(col("vec_id") % 97 =!= 0)),
        "vec_id", "embedding", bench, tau = 0.3)
      .withColumn("cosine", round(col("cosine"), 4))
  }

  val qSemanticDecontamSql: String =
    """WITH bench AS (
         SELECT vec_id AS bench_id, embedding::DOUBLE[] AS bv
         FROM embeddings WHERE vec_id % 97 = 0 ORDER BY vec_id LIMIT 64),
       corpus AS (
         SELECT vec_id, embedding::DOUBLE[] AS cv
         FROM embeddings WHERE vec_id % 97 != 0),
       scored AS (
         SELECT c.vec_id, b.bench_id,
                list_dot_product(cv, bv)
                  / (sqrt(list_dot_product(cv, cv)) * sqrt(list_dot_product(bv, bv))) AS cos
         FROM corpus c CROSS JOIN bench b),
       best AS (
         SELECT vec_id, bench_id, cos,
                row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, bench_id) AS rk
         FROM scored)
       SELECT vec_id, bench_id, round(cos, 4) AS cosine
       FROM best WHERE rk = 1 AND cos >= 0.3"""
  row(CatalogRow("q_semantic_decontam", qSemanticDecontam, qSemanticDecontamSql))
}
