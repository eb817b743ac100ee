package graft.queries

import graft.clean.TextCleaner
import graft.dedup.Dedup
import graft.embed.{Embedders, HashEmbedder}
import graft.lang.LanguageDetect
import graft.model.FieldCaps
import graft.plans.{IvfCatalog, IvfPruning}
import graft.queries.CatalogSupport._
import graft.queries.QueryCatalog.Q
import graft.search.{HybridSearch, IvfIndex, KeywordSearch, ProductQuant, Rerank, ScalarQuant, VectorSearch}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Search and index rows: exact and filtered vector top-k, IVF/PQ/SQ8
  * approximate search and their recall, kNN joins, BM25, hybrid RRF,
  * range/group search, MMR, RAG prompt assembly, the language-aware search
  * façade, hard negatives, the IVF optimizer rewrite, and the store's
  * attribute/projection ops (Q3, C18, C19).
  */
object SearchRows extends CatalogFamily {

  /** The graded ranking of the search rows: [[VectorSearch.topK]] on
    * the rounded score with `vec_id` ties, the order every oracle here
    * replays (`ORDER BY score DESC, vec_id`).
    */
  private def gradedTopK(df: DataFrame, q: Array[Float], k: Int, predicate: Option[Column] = None): DataFrame =
    VectorSearch.topK(df, q, k, predicate = predicate, rounded = true, tieBreak = Seq("vec_id"))

  /** Q1 — exact cosine top-10 against the vec_id=0 query vector.
    * Rounded score is the sort key on both sides so ties break
    * identically.
    */
  val qAnnTopK: Q = (s, dir) =>
    gradedTopK(tbl(s, dir, "embeddings"), vecOf(s, dir, 0L), 10)
      .select("vec_id", "label", "score")

  val qAnnTopKSql: String =
    """WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
         scored AS (
           SELECT vec_id, label,
             round(list_dot_product(embedding::DOUBLE[], qv)
                   / (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) * sqrt(list_dot_product(qv, qv))), 4) AS score
           FROM embeddings, q)
       SELECT vec_id, label, score FROM scored ORDER BY score DESC, vec_id LIMIT 10"""
  row(CatalogRow("q_ann_topk", qAnnTopK, qAnnTopKSql))

  /** Q1+Q2 — metadata predicate applied BEFORE top-k (pre-k filter
    * semantics, milvus_store.py:295).
    */
  val qAnnTopKFiltered: Q = (s, dir) =>
    gradedTopK(tbl(s, dir, "embeddings"), vecOf(s, dir, 0L), 10, Some(col("label") === 3))
      .select("vec_id", "label", "score")

  val qAnnTopKFilteredSql: String =
    """WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
         scored AS (
           SELECT vec_id, label,
             round(list_dot_product(embedding::DOUBLE[], qv)
                   / (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) * sqrt(list_dot_product(qv, qv))), 4) AS score
           FROM embeddings, q WHERE label = 3)
       SELECT vec_id, label, score FROM scored ORDER BY score DESC, vec_id LIMIT 10"""
  row(CatalogRow("q_ann_topk_filtered", qAnnTopKFiltered, qAnnTopKFilteredSql))

  /** Q7 — RAG prompt assembly, driver-graded (search_utils.py:101-136):
    * a deterministic top-5 retrieval (longest documents, doc_id
    * tie-break, 80-char snippets) through the REAL
    * [[graft.search.SearchFacade.ragPrompt]] — numbered 문서-i context
    * block joined with blank lines, system preamble, user query. The
    * oracle reassembles the exact prompt with string_agg over the same
    * top-5 CTE. The k-row collect inside ragPrompt is the operator's
    * correct altitude (k ≤ 10), not a driver-side loop over data.
    */
  val qRagPrompt: Q = (s, dir) => {
    import s.implicits._
    val top = tbl(s, dir, "documents")
      .select(substring(col("text"), 1, 80).as("text"), col("n_chars"), col("doc_id"))
      .orderBy(desc("n_chars"), col("doc_id"))
      .limit(5)
    graft.search.SearchFacade
      .ragPrompt(top, "분산 처리 엔진이란?")
      .zipWithIndex
      .map { case ((role, content), i) => (i + 1, role, content) }
      .toDF("idx", "role", "content")
  }

  val qRagPromptSql: String =
    """WITH top AS (
         SELECT substring(text, 1, 80) AS t,
                row_number() OVER (ORDER BY n_chars DESC, doc_id) AS rn
         FROM documents QUALIFY rn <= 5),
       ctx AS (
         SELECT string_agg('문서 ' || rn || ': ' || t, chr(10) || chr(10) ORDER BY rn) AS c
         FROM top)
       SELECT CAST(1 AS INT) AS idx, 'system' AS role,
              '다음 문서들을 참고하여 질문에 답변해 주세요.' || chr(10) || chr(10) || c AS content
       FROM ctx
       UNION ALL
       SELECT CAST(2 AS INT), 'user', '분산 처리 엔진이란?'
       ORDER BY idx"""
  row(CatalogRow("q_rag_prompt", qRagPrompt, qRagPromptSql))

  /** Q6 — the language-aware search façade, driver-graded
    * (search_utils.py:36-98): three queries (Korean / English /
    * Vietnamese) run through the REAL [[graft.search.SearchFacade
    * .search]] — C15 query-language detection picks the filter, the
    * filter applies PRE-k, the query embeds through the same
    * HashEmbedder as the collection, exact cosine top-5. The corpus is
    * given real language diversity first: doc_id%7==1 rows carry a
    * deterministic Korean text, %7==2 Vietnamese (C14 content detect
    * then routes them), and exact dedup keeps first so equal texts
    * can't produce score ties at the k boundary. The oracle replays the
    * text injection, the C14 CASE chain, the dedup QUALIFY, the MD5
    * trigram embeddings, the C15 constants per query, and the filtered
    * top-5 — a mis-detected query language would swap the filter and
    * break every row of that query's block.
    *
    * Graded slice capped at the replica-0 documents (doc_id < [[Replica0Cap]];
    * no-op at driver sfs) for the same reason as q_pipeline_e2e: the
    * oracle's per-document trigram-embedding state is non-spillable in
    * DuckDB and OOM'd the replay host at sf100 (r13 sweep, "failed to
    * allocate ... bad allocation"). Fixed-density full recompute at
    * every decade; the engine side's full-corpus batch search is
    * bench-measured.
    */
  private def qSearchFacade(cap: Long): Q = (s, dir) => {
    import graft.search.SearchFacade
    val embedder = new HashEmbedder(dim = 64)
    val mod = pmod(col("doc_id"), lit(7))
    val langText = when(mod === 1,
        concat(lit("분산 데이터 처리 엔진 "), col("doc_id"), lit(" 번째 문서 내용 스파크 조인 집계")))
      .when(mod === 2,
        concat(lit("dữ liệu phân tán số "), col("doc_id"), lit(" truy vấn và xử lý nhanh")))
      .otherwise(col("text"))
    val base = rebalanced(tbl(s, dir, "documents").filter(col("doc_id") < cap))
      .select(col("doc_id"), langText.as("text"))
    // Everything the search needs from the text — language, embedding,
    // dedup key — derives in the SCAN stage; the dedup shuffle then
    // moves only (doc_id, language, 64-float vector, 16-byte key), and
    // the text column never enters an exchange. Embed-then-dedup is
    // output-identical to dedup-then-embed (equal texts embed equally),
    // and the round-11 sf100 probe measured the text-through-the-window
    // order at 37× for a 13.9× decade — pure shuffle spill of a column
    // the query drops right after.
    val enriched = Embedders
      .withEmbedding(
        base.withColumn("language", LanguageDetect.detectContentLanguage(col("text"))),
        "text", "embedding", embedder)
      .withColumn("__h", Dedup.contentHash(col("text")))
      .select("doc_id", "language", "embedding", "__h")
    val coll = Dedup.exactDedupByKey(enriched, "__h", Seq("doc_id")).drop("__h")
    val queries = Seq(
      ("ko", "분산 처리 엔진이란 무엇인가요"),
      ("en", "spark join order table"),
      ("vi", "dữ liệu phân tán và truy vấn"))
    // batch form: the embed subtree materializes ONCE; the naive
    // per-query loop re-derived the full collection 3× (92 s at sf10).
    // Bracketed so the corpus-width checkpoint blocks release at the
    // end of the query — the k-row union is checkpointed (tiny) so the
    // returned frame stays valid after the release.
    SearchFacade.withSearchBatch(coll, queries, embedder, k = 5, extraCols = Seq("doc_id")) {
      frames =>
        frames
          .zip(queries)
          .map { case ((tag, hits), (_, q)) =>
            hits.select(
              lit(tag).as("query_tag"),
              lit(SearchFacade.detectQueryLanguageScala(q)).as("query_lang"),
              col("doc_id"),
              col("language"),
              round(col("score"), VectorSearch.ScoreDigits).as("score"))
          }
          .reduce(_.unionByName(_))
          .localCheckpoint()
    }
  }

  private def qSearchFacadeSql(cap: Long): String =
    raw"""WITH injected AS (
            SELECT doc_id, CASE
              WHEN doc_id % 7 = 1 THEN '분산 데이터 처리 엔진 ' || doc_id || ' 번째 문서 내용 스파크 조인 집계'
              WHEN doc_id % 7 = 2 THEN 'dữ liệu phân tán số ' || doc_id || ' truy vấn và xử lý nhanh'
              ELSE text END AS text
            FROM documents WHERE doc_id < $cap),
          dd AS (
            SELECT doc_id, text FROM injected
            QUALIFY row_number() OVER (
              PARTITION BY md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g')))
              ORDER BY doc_id) = 1),
          lang AS (
            SELECT doc_id, CASE
              WHEN total = 0 THEN 'korean'
              WHEN kr / total > 0.10 THEN 'korean'
              WHEN vi / total > 0.02 THEN 'vietnamese'
              WHEN en / total > 0.30 THEN 'english'
              WHEN kr / total >= vi / total AND kr / total >= en / total THEN 'korean'
              WHEN vi / total >= en / total THEN 'vietnamese'
              ELSE 'english' END AS language
            FROM (SELECT doc_id,
                   CAST(length(text) AS DOUBLE) AS total,
                   CAST(length(text) - length(regexp_replace(text, '[가-힣]', '', 'g')) AS DOUBLE) AS kr,
                   CAST(length(text) - length(regexp_replace(text, '[ăâđêôơưĂÂĐÊÔƠƯàáảãạèéẻẽẹìíỉĩịòóỏõọùúủũụỳýỷỹỵ]', '', 'g')) AS DOUBLE) AS vi,
                   CAST(length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g')) AS DOUBLE) AS en
                 FROM dd)),
          qs AS (
            SELECT * FROM (VALUES
              ('ko', '분산 처리 엔진이란 무엇인가요', 'korean', CAST(-1 AS BIGINT)),
              ('en', 'spark join order table', 'english', CAST(-2 AS BIGINT)),
              ('vi', 'dữ liệu phân tán và truy vấn', 'vietnamese', CAST(-3 AS BIGINT))
            ) AS t(tag, qtext, qlang, qid)),
          corpus_text AS (
            SELECT doc_id, chr(2) || lower(text) || chr(3) AS s FROM dd
            UNION ALL
            SELECT qid, chr(2) || lower(qtext) || chr(3) FROM qs),
          tri AS (
            SELECT doc_id,
                   unnest(list_transform(range(1, length(s) - 1), i -> substring(s, CAST(i AS INT), 3))) AS g
            FROM corpus_text),
          sparse AS (
            SELECT doc_id,
                   CAST((('0x' || substring(md5(g), 1, 8))::UINTEGER) % 64 AS INT) AS idx,
                   CAST(sum(CASE WHEN ('0x' || substring(md5(g), 1, 8))::UINTEGER < 2147483648 THEN 1 ELSE -1 END) AS DOUBLE) AS cnt
            FROM tri GROUP BY 1, 2),
          comps AS (
            SELECT doc_id, idx,
                   CAST(cnt * (1.0 / sqrt(sum(cnt * cnt) OVER (PARTITION BY doc_id))) AS FLOAT) AS val
            FROM sparse),
          vecs AS (
            SELECT doc_id,
                   list_transform(range(0, 64), i ->
                     CASE WHEN list_position(idxs, CAST(i AS INT)) > 0
                          THEN vals[list_position(idxs, CAST(i AS INT))]
                          ELSE 0.0::FLOAT END)::DOUBLE[] AS v
            FROM (SELECT doc_id,
                         list(idx ORDER BY idx) AS idxs,
                         list(val ORDER BY idx) AS vals
                  FROM comps GROUP BY doc_id)),
          scored AS (
            SELECT q.tag, q.qlang, d.doc_id, l.language,
                   list_dot_product(c.v, qv.v)
                     / (sqrt(list_dot_product(c.v, c.v)) * sqrt(list_dot_product(qv.v, qv.v))) AS raw
            FROM dd d
            JOIN vecs c ON c.doc_id = d.doc_id
            JOIN lang l ON l.doc_id = d.doc_id
            JOIN qs q ON l.language = q.qlang
            JOIN vecs qv ON qv.doc_id = q.qid),
          ranked AS (
            SELECT tag, qlang, doc_id, language, raw,
                   row_number() OVER (PARTITION BY tag ORDER BY raw DESC, doc_id) AS rn
            FROM scored)
          SELECT tag AS query_tag, qlang AS query_lang, doc_id, language,
                 round(raw, 4) AS score
          FROM ranked WHERE rn <= 5
          ORDER BY tag, score DESC, doc_id"""
  row(CatalogRow.capped("q_search_facade", _.Replica0Cap)(qSearchFacade, qSearchFacadeSql))

  /** Q4 — multi-collection fan-out over one table, the label as the
    * collection: per-label top-3 ([[VectorSearch.bestKPerKey]]), merge,
    * global top-5 by similarity ([[VectorSearch.bestK]]).
    */
  val qMultiCollection: Q = (s, dir) => {
    val scored = VectorSearch.score(tbl(s, dir, "embeddings"), vecOf(s, dir, 0L), rounded = true)
    VectorSearch
      .bestK(VectorSearch.bestKPerKey(scored, "label", 3, Seq("vec_id")), 5, Seq("vec_id"))
      .select(col("vec_id"), col("label").as("collection"), col("score"))
  }

  val qMultiCollectionSql: String =
    """WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
         scored AS (
           SELECT vec_id, label,
             round(list_dot_product(embedding::DOUBLE[], qv)
                   / (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) * sqrt(list_dot_product(qv, qv))), 4) AS score
           FROM embeddings, q),
         ranked AS (
           SELECT vec_id, label, score,
                  row_number() OVER (PARTITION BY label ORDER BY score DESC, vec_id) AS rk
           FROM scored)
       SELECT vec_id, label AS collection, score FROM ranked WHERE rk <= 3
       ORDER BY score DESC, vec_id LIMIT 5"""
  row(CatalogRow("q_multi_collection", qMultiCollection, qMultiCollectionSql))

  /** kNN JOIN ([[VectorSearch.knnJoin]]) — top-3 corpus neighbors for
    * each of the first 5 query vectors (self excluded), ranked on the
    * rounded score, broadcast query side.
    */
  val qKnnJoin: Q = (s, dir) => {
    val e = tbl(s, dir, "embeddings")
    VectorSearch
      .knnJoin(e.filter(col("vec_id") < 5), e, "vec_id", "vec_id", 3, excludeSelf = true, rounded = true)
      .orderBy("query_id", "rank")
  }

  val qKnnJoinSql: String =
    """WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 5),
         scored AS (
           SELECT q.query_id, e.vec_id AS neighbor_id,
             round(list_dot_product(e.embedding::DOUBLE[], q.qv)
                   / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])) * sqrt(list_dot_product(q.qv, q.qv))), 4) AS score
           FROM embeddings e, q WHERE e.vec_id <> q.query_id),
         ranked AS (
           SELECT query_id, neighbor_id, score,
                  CAST(row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS INT) AS rank
           FROM scored)
       SELECT query_id, neighbor_id, score, rank FROM ranked WHERE rank <= 3
       ORDER BY query_id, rank"""
  row(CatalogRow("q_knn_join", qKnnJoin, qKnnJoinSql))

  /** IVF top-k through the EXACT bounded search (scout nprobe clusters,
    * then scan every cluster whose radius bound could still hold a
    * top-k row — IvfIndex.searchTopKExact). KMeans is engine-specific,
    * but the RESULT is engine-independent: exact top-10, at ANY scale
    * factor, by construction — the round-3 rank-10 recall boundary at
    * sf0.1 (nprobe=12 dropping ~1 neighbor) cannot recur. The oracle
    * recomputes the exact top-10 in DuckDB. The approximate
    * fixed-nprobe path stays available as IvfIndex.searchTopK, with
    * q_ivf_recall pinning its ≥0.9 recall independently. boundSlack
    * 2e-4 > the 1e-4 display-rounding grid, so round-into-tie rows are
    * always probed — and `rounded`/`tieBreak` make the FINAL
    * selection rank on (round(score,4) DESC, vec_id) exactly like the
    * oracle, so the k-boundary is deterministic too (ADVICE r4).
    */
  val qIvfSearch: Q = (s, dir) => {
    val (labeled, centroids, radii) = ivfIndexFor(s, dir)
    val q = vecOf(s, dir, 0L)
    IvfIndex
      .searchTopKExact(labeled, centroids, radii, q, 10, scout = IvfQueryCfg.nprobe,
        rounded = true, tieBreak = Seq("vec_id"))
      .select(col("vec_id"), col("label"), col("score"))
      .orderBy(desc("score"), col("vec_id"))
  }

  val qIvfSearchSql: String = qAnnTopKSql
  row(CatalogRow("q_ivf_search", qIvfSearch, qIvfSearchSql, indexBacked = true))

  /** Recall@10 of the IVF search vs exact search, computed distributed
    * (intersect of the two id sets). The assertion (recall ≥ 0.9) is
    * made in Spark; the oracle pins the asserted value, so the row goes
    * red the moment ANN quality regresses.
    *
    * BOTH sides run over the cached labeled corpus the IVF queries
    * share: the exact side is the same scan minus the cluster filter
    * (round-2 bench re-read the parquet AND re-ran the IVF pipeline
    * from scratch — 6.3 s of redundant recompute for a 1-row answer).
    */
  val qIvfRecall: Q = (s, dir) => {
    val (labeled, centroids, _) = ivfIndexFor(s, dir)
    val q = vecOf(s, dir, 0L)
    def top10(df: DataFrame) = gradedTopK(df, q, 10).select("vec_id")
    val exact = top10(labeled)
    val probes = IvfIndex.nearestClusters(q, centroids, IvfQueryCfg.nprobe)
    val ivf = top10(labeled.filter(col("cluster_id").isin(probes: _*)))
    ivf
      .intersect(exact)
      .agg(count(lit(1)).cast("int").as("overlap"))
      .select(
        lit(10).as("k"),
        (col("overlap") >= 9).as("recall_ok")
      )
  }

  val qIvfRecallSql: String =
    "SELECT CAST(10 AS INT) AS k, true AS recall_ok"
  row(CatalogRow("q_ivf_recall", qIvfRecall, qIvfRecallSql, indexBacked = true))

  /** IVF-accelerated kNN join through the EXACT bounded two-pass join
    * (IvfIndex.knnJoinExact): scout pass joins each query to its
    * nprobe best-bound clusters, guarantee pass adds only clusters the
    * radius bound can't rule out. Still broadcast-centroid + cluster
    * equi-joins — no cross product — but exact at ANY scale factor by
    * construction (the round-3 sf0.001 tiny-scale recall property
    * cannot recur). Oracle = the exact kNN join recomputed in DuckDB.
    * Same arguments as q_knn_join (self excluded, rounded ranking),
    * whose oracle it shares. boundSlack 2e-4 > the 1e-4 rounding grid
    * used for the graded ranking.
    */
  val qIvfKnnJoin: Q = (s, dir) => {
    implicit val sp: SparkSession = s
    val e = tbl(s, dir, "embeddings")
    val cfg = IvfQueryCfg
    val (labeled, centroids, radii) = ivfIndexFor(s, dir)
    IvfIndex
      .knnJoinExact(
        e.filter(col("vec_id") < 5), labeled, centroids, radii, "vec_id", "vec_id", 3,
        scoutProbe = cfg.nprobe, rounded = true, excludeSelf = true)
      .orderBy("query_id", "rank")
  }
  row(CatalogRow("q_ivf_knn_join", qIvfKnnJoin, qKnnJoinSql, indexBacked = true))

  val qAttrQuery: Q = (s, dir) =>
    tbl(s, dir, "documents")
      .filter(col("source") === "src7")
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .orderBy("doc_id")
      .limit(10)

  val qAttrQuerySql: String =
    """SELECT doc_id, lang, n_chars FROM documents WHERE source = 'src7'
       ORDER BY doc_id LIMIT 10"""
  row(CatalogRow("q_attr_query", qAttrQuery, qAttrQuerySql))

  /** One dynamic-field store per sf dir: documents written through
    * [[graft.store.VectorStore.writeCollectionDynamic]] with two ad-hoc
    * columns OUTSIDE the fixed chunk schema (`n_chars`, `review_batch`)
    * so they spill into the `extra` map on disk. Written once per JVM
    * per sf, like ivfCollectionPathFor — the store layout is load-side
    * work.
    */
  private val dynStorePathCache = scala.collection.concurrent.TrieMap.empty[String, String]

  private def dynStorePathFor(s: SparkSession, dir: String): String =
    dynStorePathCache.getOrElseUpdate(
      dir, {
        val d = tbl(s, dir, "documents").select(
          col("doc_id").cast("string").as("chunk_id"),
          col("text"),
          col("source"),
          col("lang").as("language"),
          // ad-hoc metadata not in Chunk.FixedFields → rides `extra`
          col("n_chars"),
          (col("doc_id") % 7).cast("string").as("review_batch"))
        val out = java.nio.file.Files.createTempDirectory("graft-dyn-coll").toString
        new graft.store.VectorStore(out).writeCollectionDynamic(d, "docs_dyn")
        out
      }
    )

  /** Dynamic-field overflow (reference `enable_dynamic_field=True`,
    * milvus_store.py:65) graded END TO END through the store: ad-hoc
    * columns are packed into `extra` by `writeCollectionDynamic`,
    * survive the parquet round-trip, and come back out through
    * [[graft.store.VectorStore.dynamicField]] — as a FILTER (the Milvus
    * expr-on-JSON-field query shape) and as typed projections. The
    * oracle replays the semantics from the raw table: green means the
    * pack → store → read → extract chain loses nothing, absent keys
    * read as NULL, and null-valued entries were dropped from the map
    * (absent key == absent field, the reference's JSON semantics).
    */
  val qAttrDynamic: Q = (s, dir) => {
    val store = new graft.store.VectorStore(dynStorePathFor(s, dir))
    store
      .readCollection(s, "docs_dyn")
      .filter(graft.store.VectorStore.dynamicField("review_batch") === "3")
      .select(
        col("chunk_id").cast("long").as("doc_id"),
        col("language"),
        graft.store.VectorStore.dynamicField("n_chars").cast("long").as("n_chars"),
        graft.store.VectorStore.dynamicField("review_batch").as("review_batch"),
        graft.store.VectorStore.dynamicField("never_written").as("missing_field"))
      .orderBy("doc_id")
  }

  val qAttrDynamicSql: String =
    """SELECT doc_id, lang AS language, n_chars,
              CAST(doc_id % 7 AS VARCHAR) AS review_batch,
              CAST(NULL AS VARCHAR) AS missing_field
       FROM documents WHERE doc_id % 7 = 3 ORDER BY doc_id"""
  row(CatalogRow("q_attr_dynamic", qAttrDynamic, qAttrDynamicSql))

  val qTruncateProject: Q = (s, dir) => {
    val d = tbl(s, dir, "documents")
    d.select(
      col("doc_id") +:
        TextCleaner.truncateForStore(col("text"), col("source"), col("source"), col("lang")): _*
    )
  }

  val qTruncateProjectSql: String =
    s"""SELECT doc_id,
        substring(coalesce(text, ''), 1, ${FieldCaps.Text}) AS text,
        substring(coalesce(source, ''), 1, ${FieldCaps.Source}) AS source,
        substring(coalesce(source, ''), 1, ${FieldCaps.Filename}) AS filename,
        substring(coalesce(lang, 'unknown'), 1, ${FieldCaps.Language}) AS language
        FROM documents ORDER BY doc_id"""
  row(CatalogRow("q_truncate_project", qTruncateProject, qTruncateProjectSql))

  val qCollectionName: Q = (s, dir) =>
    tbl(s, dir, "documents")
      .select(col("source"), TextCleaner.collectionName(col("source"), "docs_").as("collection"))
      .distinct()

  val qCollectionNameSql: String =
    """SELECT DISTINCT source, 'docs_' || regexp_replace(lower(source), '[- ]', '_', 'g') AS collection
       FROM documents ORDER BY source"""
  row(CatalogRow("q_collection_name", qCollectionName, qCollectionNameSql))

  /** Query terms for the BM25/hybrid rows: one rare discriminative
    * term (df≈25/500) + one common term (df≈500/500), so the idf
    * weighting — not just tf — decides the ranking.
    */
  private val Bm25Terms = Seq("dup", "vector")

  /** BM25 top-10 over `documents` — single scan + 1-row stats
    * broadcast + TakeOrdered; rational idf so the oracle replays the
    * score bit-for-bit (see KeywordSearch scaladoc).
    */
  val qBm25TopK: Q = (s, dir) =>
    // rebalanced (r19): the single-row-group local file ran the whole
    // per-doc tokenize+score in one task
    KeywordSearch.bm25TopK(rebalanced(tbl(s, dir, "documents")), Bm25Terms, 10, rationalIdf = true)

  /** The BM25 oracle CTE chain (toks/base/st/ks over `documents` for
    * the Bm25Terms query), shared VERBATIM by qBm25TopKSql and
    * qHybridRrfSql — one definition so an idf/tokenization tweak
    * cannot leave the hybrid row certifying a stale BM25.
    */
  private val bm25OracleCtes: String =
    raw"""toks AS (SELECT doc_id, list_filter(regexp_split_to_array(lower(coalesce(text,'')), '\s+'), x -> x <> '') AS t FROM documents),
         base AS (SELECT doc_id, CAST(len(t) AS DOUBLE) AS dl,
                         CAST(len(list_filter(t, x -> x = 'dup')) AS DOUBLE) AS tf0,
                         CAST(len(list_filter(t, x -> x = 'vector')) AS DOUBLE) AS tf1
                  FROM toks),
         st AS (SELECT CAST(count(*) AS DOUBLE) AS n,
                       CAST(sum(CAST(dl AS BIGINT)) AS DOUBLE) / count(*) AS avgdl,
                       CAST(sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df0,
                       CAST(sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df1
                FROM base),
         ks AS (SELECT doc_id, CAST(tf0 AS INT) AS tf_dup, CAST(tf1 AS INT) AS tf_vector,
                  (CASE WHEN tf0 > 0 THEN ((n - df0 + 0.5::DOUBLE) / (df0 + 0.5::DOUBLE)) * (tf0 * (1.2::DOUBLE + 1.0::DOUBLE)) / (tf0 + 1.2::DOUBLE * (1.0::DOUBLE - 0.75::DOUBLE + 0.75::DOUBLE * dl / avgdl)) ELSE 0.0::DOUBLE END)
                + (CASE WHEN tf1 > 0 THEN ((n - df1 + 0.5::DOUBLE) / (df1 + 0.5::DOUBLE)) * (tf1 * (1.2::DOUBLE + 1.0::DOUBLE)) / (tf1 + 1.2::DOUBLE * (1.0::DOUBLE - 0.75::DOUBLE + 0.75::DOUBLE * dl / avgdl)) ELSE 0.0::DOUBLE END) AS s
                FROM base CROSS JOIN st)"""

  val qBm25TopKSql: String =
    s"""WITH $bm25OracleCtes
       SELECT doc_id, tf_dup, tf_vector, round(s, 6) AS score
       FROM ks WHERE s > 0 ORDER BY round(s, 6) DESC, doc_id LIMIT 10"""
  row(CatalogRow("q_bm25_topk", qBm25TopK, qBm25TopKSql))

  /** BM25 top-10 through the PREBUILT inverted index
    * (KeywordSearch.buildIndex → bm25TopKIndexed): postings + doc
    * lengths + 1-row stats, with df and tf coming from the filtered
    * postings rows for exactly the query's terms instead of a corpus
    * scan — the layout that turns a 100 TB keyword query into
    * ~terms × avg-postings touched rows. Scores are pinned identical
    * to the scan path (same fixed-shape rational-idf double sum), so
    * this row shares q_bm25_topk's oracle VERBATIM: a green row
    * certifies the whole postings pipeline reproduces the scan
    * ranking bit-for-bit.
    */
  val qBm25Indexed: Q = (s, dir) => {
    // A rebalanced() feed was A/B'd here in r20 (the r19 q_bm25_topk
    // pattern, motivated by this row's 0.70 8v32 scaling ratio) and
    // REJECTED: buildIndex has four consumers of the docs relation
    // (postings, docLens join, stats, and the indexed top-k), so the
    // exchange map stage ran four times (broadcast-build jobs do not
    // share exchange results) and wall DOUBLED (0.58 → 1.1 s,
    // records/ r20 profile). The plain scan feed lets each consumer
    // read the 1-row-group file directly — cheaper than shuffling the
    // text four ways at this corpus shape.
    val idx = KeywordSearch.buildIndex(tbl(s, dir, "documents"))
    KeywordSearch.bm25TopKIndexed(idx, Bm25Terms, 10, rationalIdf = true)
  }

  val qBm25IndexedSql: String = qBm25TopKSql
  row(CatalogRow("q_bm25_indexed", qBm25Indexed, qBm25IndexedSql))

  /** Hybrid retrieval: RRF fusion of dense top-20 (cosine vs the
    * vec_id=0 query) and BM25 top-20 over the same id space — the
    * hybrid mode modern vector stores serve next to dense-only search.
    * Output keeps both per-retriever ranks (null where a doc appears
    * in only one list).
    */
  val qHybridRrf: Q = (s, dir) => {
    val vecTop = gradedTopK(tbl(s, dir, "embeddings"), vecOf(s, dir, 0L), 20)
      .select(col("vec_id").as("doc_id"), col("score"))
    val vecRank = HybridSearch
      .withRank(vecTop, Seq(desc("score"), col("doc_id")))
      .select("doc_id", "rank")
    // rebalanced (r19): same single-task-scan fix as q_bm25_topk
    val kwTop = KeywordSearch.bm25TopK(rebalanced(tbl(s, dir, "documents")), Bm25Terms, 20, rationalIdf = true)
    val kwRank = HybridSearch
      .withRank(kwTop, Seq(desc("score"), col("doc_id")))
      .select("doc_id", "rank")
    HybridSearch.rrfFuse(Seq("vec" -> vecRank, "kw" -> kwRank), 10)
  }

  val qHybridRrfSql: String =
    s"""WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
         vs AS (SELECT vec_id AS doc_id,
                  round(list_dot_product(embedding::DOUBLE[], qv) / (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) * sqrt(list_dot_product(qv, qv))), 4) AS score
                FROM embeddings, q),
         vtop AS (SELECT doc_id, score FROM vs ORDER BY score DESC, doc_id LIMIT 20),
         vr AS (SELECT doc_id, CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INT) AS rank_vec FROM vtop),
         $bm25OracleCtes,
         ktop AS (SELECT doc_id, round(s, 6) AS score FROM ks WHERE s > 0 ORDER BY round(s, 6) DESC, doc_id LIMIT 20),
         kr AS (SELECT doc_id, CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INT) AS rank_kw FROM ktop)
       SELECT coalesce(vr.doc_id, kr.doc_id) AS doc_id, rank_vec, rank_kw,
              round(coalesce(1.0::DOUBLE / (60 + rank_vec), 0.0::DOUBLE) + coalesce(1.0::DOUBLE / (60 + rank_kw), 0.0::DOUBLE), 6) AS rrf
       FROM vr FULL OUTER JOIN kr ON vr.doc_id = kr.doc_id
       ORDER BY rrf DESC, doc_id LIMIT 10"""
  row(CatalogRow("q_hybrid_rrf", qHybridRrf, qHybridRrfSql))

  /** SQ8 scalar-quantized asymmetric top-10: fit per-dim [min,max],
    * encode the corpus to 8-bit codes, dequantize to midpoints and
    * score against the full-precision query. The oracle replays the
    * ENTIRE quantize→decode→score chain, so even the quantization
    * error must match bit-for-bit.
    */
  val qSq8TopK: Q = (s, dir) =>
    ScalarQuant
      .quantizedTopK(tbl(s, dir, "embeddings"), vecOf(s, dir, 0L), 10)
      .select("vec_id", "label", "score")

  val qSq8TopKSql: String =
    """WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
         flat AS (SELECT u.i AS i, min(v[u.i]) AS mn, max(v[u.i]) AS mx FROM e, unnest(range(1, len(v)+1)) AS u(i) GROUP BY 1),
         st AS (SELECT list(mn ORDER BY i) AS mns, list(mx ORDER BY i) AS mxs FROM flat),
         q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
         dec AS (SELECT vec_id, label,
           list_transform(range(1, len(v)+1), i ->
             mns[i] + ((CASE WHEN mxs[i] = mns[i] THEN 0 ELSE LEAST(255, GREATEST(0, floor((v[i] - mns[i]) * 255 / (mxs[i] - mns[i])))) END) + 0.5) * (mxs[i] - mns[i]) / 255) AS dv
           FROM e CROSS JOIN st),
         scored AS (SELECT vec_id, label,
           round(list_dot_product(dv, qv) / (sqrt(list_dot_product(dv, dv)) * sqrt(list_dot_product(qv, qv))), 4) AS score
           FROM dec CROSS JOIN q)
       SELECT vec_id, label, score FROM scored ORDER BY score DESC, vec_id LIMIT 10"""
  row(CatalogRow("q_sq8_topk", qSq8TopK, qSq8TopKSql))

  /** Range search over the embeddings (Milvus `radius`/`range_filter`
    * mode): all rows with cosine score in [0.15, 0.35) — a pure
    * scan-stage filter, no top-k heap, no shuffle; the upper bound
    * also proves the query vector itself (score 1.0) is excluded.
    */
  val qRangeSearch: Q = (s, dir) =>
    VectorSearch
      .rangeSearch(tbl(s, dir, "embeddings"), vecOf(s, dir, 0L), 0.15, Some(0.35))
      .select("vec_id", "label", "score")

  val qRangeSearchSql: String =
    """WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
         scored AS (
           SELECT vec_id, label,
             round(list_dot_product(embedding::DOUBLE[], qv)
                   / (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) * sqrt(list_dot_product(qv, qv))), 4) AS score
           FROM embeddings, q)
       SELECT vec_id, label, score FROM scored
       WHERE score >= 0.15::DOUBLE AND score < 0.35::DOUBLE ORDER BY vec_id"""
  row(CatalogRow("q_range_search", qRangeSearch, qRangeSearchSql))

  /** Grouping search (Milvus `group_by_field`): best hit per label for
    * the top-5 labels — per-group top-1 window that Spark rewrites to
    * WindowGroupLimit (map-side one-row-per-group pruning before the
    * shuffle).
    */
  val qGroupSearch: Q = (s, dir) =>
    VectorSearch
      .groupedTopK(tbl(s, dir, "embeddings"), vecOf(s, dir, 0L), "label", 5)
      .select("label", "vec_id", "score")

  val qGroupSearchSql: String =
    """WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
         scored AS (
           SELECT vec_id, label,
             round(list_dot_product(embedding::DOUBLE[], qv)
                   / (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) * sqrt(list_dot_product(qv, qv))), 4) AS score
           FROM embeddings, q),
         best AS (
           SELECT label, vec_id, score,
                  row_number() OVER (PARTITION BY label ORDER BY score DESC, vec_id) AS rn
           FROM scored)
       SELECT label, vec_id, score FROM best WHERE rn = 1
       ORDER BY score DESC, label LIMIT 5"""
  row(CatalogRow("q_group_search", qGroupSearch, qGroupSearchSql))

  /** MMR diversity re-rank of the exact top-20 (λ=0.7, k=5) — greedy
    * sequential selection replayed EXACTLY in DuckDB via a recursive
    * CTE (pairwise cosines rounded half-up to 4, objective written
    * λ·rel − (1−λ)·maxsim with `(1 - 0.7)` spelled identically on both
    * sides: the IEEE double `1 − 0.7` is not the literal `0.3`).
    */
  val qMmrRerank: Q = (s, dir) => {
    val cand = gradedTopK(tbl(s, dir, "embeddings"), vecOf(s, dir, 0L), 20)
      .select("vec_id", "score", "embedding")
    Rerank.mmr(cand, 5, relCol = "score")
  }

  val qMmrRerankSql: String =
    """WITH RECURSIVE
         q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
         cand AS (
           SELECT vec_id,
             round(list_dot_product(embedding::DOUBLE[], qv) / (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) * sqrt(list_dot_product(qv, qv))), 4) AS rel
           FROM embeddings, q ORDER BY rel DESC, vec_id LIMIT 20),
         cv AS (SELECT c.vec_id, c.rel, e.embedding::DOUBLE[] AS v FROM cand c JOIN embeddings e USING (vec_id)),
         pairs AS (
           SELECT a.vec_id AS ia, b.vec_id AS ib,
             round(list_dot_product(a.v, b.v) / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 4) AS s
           FROM cv a, cv b WHERE a.vec_id <> b.vec_id),
         sel AS (
           SELECT 1 AS step, [vec_id] AS chosen, vec_id AS picked, rel AS mmr
           FROM (SELECT vec_id, rel FROM cv ORDER BY rel DESC, vec_id LIMIT 1)
           UNION ALL
           SELECT step + 1, list_append(chosen, nxt.vec_id), nxt.vec_id, nxt.mmr
           FROM sel, LATERAL (
             SELECT vec_id, mmr FROM (
               SELECT c.vec_id,
                      0.7::DOUBLE * c.rel - (1 - 0.7::DOUBLE) * (SELECT max(p.s) FROM pairs p WHERE p.ia = c.vec_id AND list_contains(sel.chosen, p.ib)) AS mmr
               FROM cv c WHERE NOT list_contains(sel.chosen, c.vec_id))
             ORDER BY mmr DESC, vec_id LIMIT 1) nxt
           WHERE step < 5
         )
       SELECT CAST(step AS INT) AS rank, picked AS vec_id, round(mmr, 6) AS mmr_score
       FROM sel ORDER BY rank"""
  row(CatalogRow("q_mmr_rerank", qMmrRerank, qMmrRerankSql))

  /** Recall@10 of PQ ADC-shortlist-then-exact-rerank vs exact search —
    * same evidence contract as q_ivf_recall: the assertion (≥9/10
    * overlap) is computed distributed in Spark; the oracle pins the
    * asserted value so the row goes red the moment ADC quality
    * regresses. KMeans codebooks are engine-specific, so the ranking
    * itself is not DuckDB-replayable — the RECALL is the
    * engine-independent claim.
    */
  val qPqRecall: Q = (s, dir) => {
    val (encoded, cbs) = pqIndexFor(s, dir)
    val q = vecOf(s, dir, 0L)
    // adaptiveShortlist, not a constant: the round-11 sf100 sweep
    // caught recall_ok=false at 2M vectors with the fixed 100 — the
    // shortlist must stay a constant fraction of the corpus
    // (ProductQuant.adaptiveShortlist's measured rationale).
    val sl = ProductQuant.adaptiveShortlist(encoded.count(), 10)
    val pq = ProductQuant.adcTopK(encoded, cbs, q, 10, shortlist = sl).select("vec_id")
    val exact = gradedTopK(encoded, q, 10).select("vec_id")
    pq.intersect(exact)
      .agg(count(lit(1)).cast("int").as("overlap"))
      .select(lit(10).as("k"), (col("overlap") >= 9).as("recall_ok"))
  }

  val qPqRecallSql: String =
    "SELECT CAST(10 AS INT) AS k, true AS recall_ok"
  row(CatalogRow("q_pq_recall", qPqRecall, qPqRecallSql, indexBacked = true))

  /** Recall@10 of the COMPOSED IVF×PQ search (probe nprobe clusters →
    * ADC over probed rows only → shortlist sized to the probed
    * population → exact re-rank) vs exact full-corpus search — the
    * Milvus IVF_PQ index type. Same evidence contract as q_ivf_recall /
    * q_pq_recall, but pinning the COMPOSITION: probe misses and code
    * quantization stack multiplicatively, so neither flat row's green
    * implies this one. The scale claim this row anchors: ADC scan AND
    * rerank shortlist both shrink with nprobe/nlist, making the
    * composed path sub-linear in n where flat PQ stays O(n)
    * (measured against q_pq_recall in SCALE.md).
    */
  val qIvfPqRecall: Q = (s, dir) => {
    val (enc, cbs, cents) = ivfpqIndexFor(s, dir)
    val q = vecOf(s, dir, 0L)
    val composed = ProductQuant
      .ivfAdcTopK(enc, cbs, cents, q, 10, IvfQueryCfg.nprobe)
      .select("vec_id")
    val exact = gradedTopK(enc, q, 10).select("vec_id")
    composed
      .intersect(exact)
      .agg(count(lit(1)).cast("int").as("overlap"))
      .select(lit(10).as("k"), (col("overlap") >= 9).as("recall_ok"))
  }

  val qIvfPqRecallSql: String =
    "SELECT CAST(10 AS INT) AS k, true AS recall_ok"
  row(CatalogRow("q_ivfpq_recall", qIvfPqRecall, qIvfPqRecallSql, indexBacked = true))

  /** Indexed-collection path per sf dir for the optimizer-rewrite
    * evidence: the labeled IVF corpus laid down exactly as
    * [[graft.store.VectorStore.writeIndexed]] does — cluster_id as a
    * PARTITION column — so the IN filter the rule injects becomes
    * partition pruning at the scan (FileSourceStrategy splits it into
    * partitionFilters; non-probed clusters are never read). Written
    * once per JVM per sf, like ivfCache: index layout is load-side
    * work.
    */
  private val ivfPathCache = scala.collection.concurrent.TrieMap.empty[String, String]

  private def ivfCollectionPathFor(s: SparkSession, dir: String): String =
    ivfPathCache.getOrElseUpdate(
      dir, {
        val (labeled, _, _) = ivfIndexFor(s, dir)
        val out = java.nio.file.Files.createTempDirectory("graft-ivf-coll").toString
        labeled
          .repartition(col("cluster_id"))
          .write.mode("overwrite").partitionBy("cluster_id").parquet(out)
        out
      }
    )

  /** O5 driver evidence — the [[graft.plans.IvfTopKPrune]] Catalyst
    * rewrite exercised END TO END: a naive `score-orderBy-limit` over a
    * registered collection must (a) get the `cluster_id IN (probes)`
    * filter injected into its OPTIMIZED plan (checked by pattern, not
    * string), and (b) return exactly the rows+scores of the explicit
    * IVF probe path with the same nprobe — the rewrite is
    * approximate-by-contract vs exhaustive search (Milvus nprobe
    * semantics) but must be IDENTICAL to the explicit API it sugars.
    * Both plans share the deterministic (score DESC, vec_id) ranking,
    * so the parity claim is row-exact. The rule and registration are
    * scoped to this query (enable/register → compare → disable/
    * unregister in a finally) and key on the temp collection path, so
    * no other catalog query can be rewritten.
    */
  val qIvfRewrite: Q = (s, dir) => {
    import org.apache.spark.sql.catalyst.expressions.{AttributeReference, In}
    import org.apache.spark.sql.catalyst.plans.logical.{Filter => LFilter}
    val (_, centroids, _) = ivfIndexFor(s, dir)
    val path = ivfCollectionPathFor(s, dir)
    val q = vecOf(s, dir, 0L)
    val nprobe = IvfQueryCfg.nprobe
    IvfCatalog.register(path, centroids, nprobe)
    IvfPruning.enable(s)
    try {
      val corpus = s.read.parquet(path)
      def top10(df: DataFrame): DataFrame = VectorSearch.topK(df, q, 10, tieBreak = Seq("vec_id"))
      val naive = top10(corpus)
      val ruleFired = naive.queryExecution.optimizedPlan.exists {
        case LFilter(In(a: AttributeReference, _), _) => a.name == "cluster_id"
        case _ => false
      }
      val probes = IvfIndex.nearestClusters(q, centroids, nprobe)
      val explicit = top10(corpus.filter(col("cluster_id").isin(probes: _*)))
      def rows(df: DataFrame): Seq[(Long, Double)] =
        df.select(col("vec_id"), col("score")).collect().toSeq
          .map(r => (r.getLong(0), r.getDouble(1)))
      val matches = rows(naive) == rows(explicit)
      val pruned = nprobe < centroids.length
      import s.implicits._
      Seq((ruleFired, matches, pruned))
        .toDF("rule_fired", "matches_explicit", "pruned")
    } finally {
      IvfPruning.disable(s)
      IvfCatalog.unregister(path)
    }
  }

  val qIvfRewriteSql: String =
    "SELECT true AS rule_fired, true AS matches_explicit, true AS pruned"
  row(CatalogRow("q_ivf_rewrite", qIvfRewrite, qIvfRewriteSql, indexBacked = true))

  /** Hard-negative mining
    * ([[graft.search.VectorSearch.hardNegatives]]): per query, the
    * top-3 most-similar DIFFERENT-label vectors — the DPR training-set
    * construction step. Scores rounded at 4 dp and fully replayed in
    * DuckDB (same contract as q_knn_join, plus the label-exclusion
    * predicate).
    */
  val qHardNegatives: Q = (s, dir) => {
    val e = tbl(s, dir, "embeddings")
    VectorSearch
      .hardNegatives(
        e.filter(col("vec_id") < 10), e, "vec_id", "vec_id", "label", "label", k = 3)
      .select(
        col("query_id"), col("neighbor_id"),
        round(col("score"), VectorSearch.ScoreDigits).as("score"), col("rank"))
  }

  val qHardNegativesSql: String =
    """WITH q AS (SELECT vec_id AS query_id, label AS qlab, embedding::DOUBLE[] AS qv
                  FROM embeddings WHERE vec_id < 10),
         scored AS (
           SELECT q.query_id, e.vec_id AS neighbor_id,
             list_dot_product(e.embedding::DOUBLE[], q.qv)
               / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])) * sqrt(list_dot_product(q.qv, q.qv))) AS s
           FROM embeddings e, q WHERE e.label <> q.qlab AND e.vec_id <> q.query_id),
         ranked AS (
           SELECT query_id, neighbor_id, round(s, 4) AS score,
                  CAST(row_number() OVER (PARTITION BY query_id ORDER BY s DESC, neighbor_id) AS INT) AS rank
           FROM scored)
       SELECT query_id, neighbor_id, score, rank FROM ranked WHERE rank <= 3
       ORDER BY query_id, rank"""
  row(CatalogRow("q_hard_negatives", qHardNegatives, qHardNegativesSql))
}
