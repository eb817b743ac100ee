package graft.queries

import graft.dedup.Dedup
import graft.queries.CatalogSupport._
import graft.queries.QueryCatalog.Q
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Multimodal and source rows: real image/audio/video decode and image
  * resize, binary media dedup, and the HTML/HWPX/HWP source loaders.
  */
object MultimodalRows extends CatalogFamily {

  /** Multimodal plumbing over driver tables: document text cast to a
    * binary payload column, then the batched media metadata + feature
    * extraction stages — the full opaque-binary path exercised on real
    * testdata. Oracled: the featurizer hashes with MD5 (see
    * Multimodal.HashFeaturizer), so the DuckDB oracle reconstructs every
    * 32-dim feature vector from the payload bytes. The array itself is
    * emitted as scalars (the harness can't sort raw arrays): md5 over
    * the 1e4-scaled INTEGER components — integer encoding on both
    * engines, so no float-formatting divergence — plus their exact
    * integer sum.
    */
  private def qMediaFeatures(cap: Long): Q = (s, dir) => {
    import graft.multimodal.Multimodal
    // replica-0 slice since r17: the oracle unnests one hashed row per
    // 512 payload bytes and rebuilds each doc's 32-dim vector via list()
    // aggregation — non-spillable in DuckDB, exhausted the ~100 GB cap
    // at sf100r realistic (records/sweep_sf100r_r17.log). No-op at the
    // driver sfs; full-corpus media decode at scale stays graded by
    // q_image/audio/video_features (arithmetic oracles, PASS at sf100r
    // with 5M rows each).
    val docs = rebalanced(tbl(s, dir, "documents").filter(col("doc_id") < cap))
      .select(col("doc_id"), col("text").cast("binary").as("payload"))
    val withMeta = Multimodal.withMediaMeta(docs, "payload", "text-as-binary")
    val featured = Multimodal.withMediaFeatures(withMeta, "payload", dim = 32)
    val enc = transform(col("features"), x => round(x.cast("double") * 10000).cast("int"))
    featured.select(
      col("doc_id"),
      col("media_meta.size_bytes").as("size_bytes"),
      md5(concat_ws(",", transform(enc, _.cast("string")))).as("features_md5"),
      aggregate(enc, lit(0L), (acc, x) => acc + x).as("features_isum")
    )
  }

  private def qMediaFeaturesSql(cap: Long): String = rerouteDocReads(
    raw"""WITH b AS (
            SELECT doc_id, text, length(text) AS n,
                   greatest(1, length(text) // 512) AS step
            FROM documents),
          pos AS (
            SELECT doc_id, unnest(range(0, n, step)) AS i, text FROM b),
          hashed AS (
            SELECT doc_id,
                   ('0x' || substring(md5(CAST(i AS VARCHAR) || ':' ||
                      CAST(ascii(substring(text, CAST(i + 1 AS INT), 1)) AS VARCHAR)), 1, 8))::UINTEGER AS u
            FROM pos),
          sparse AS (
            SELECT doc_id, CAST(u % 32 AS INT) AS idx,
                   CAST(sum(CASE WHEN u % 2 = 0 THEN 1 ELSE -1 END) AS DOUBLE) AS cnt
            FROM hashed GROUP BY 1, 2),
          comps AS (
            SELECT doc_id, idx,
                   CAST(round(CAST(CAST(cnt / sqrt(sum(cnt * cnt) OVER (PARTITION BY doc_id)) AS FLOAT) AS DOUBLE) * 10000) AS INT) AS enc
            FROM sparse),
          vecs AS (
            SELECT doc_id,
                   list_transform(range(0, 32), i ->
                     CASE WHEN list_position(idxs, CAST(i AS INT)) > 0
                          THEN encs[list_position(idxs, CAST(i AS INT))]
                          ELSE 0 END) AS enc
            FROM (SELECT doc_id, list(idx ORDER BY idx) AS idxs, list(enc ORDER BY idx) AS encs
                  FROM comps GROUP BY doc_id))
          SELECT d.doc_id, CAST(length(d.text) AS BIGINT) AS size_bytes,
                 md5(array_to_string(list_transform(v.enc, x -> CAST(x AS VARCHAR)), ',')) AS features_md5,
                 CAST(list_sum(v.enc) AS BIGINT) AS features_isum
          FROM documents d JOIN vecs v USING (doc_id)
          ORDER BY d.doc_id""",
    s"FROM (SELECT * FROM documents WHERE doc_id < $cap)")
  row(CatalogRow.capped("q_media_features", _.Replica0Cap)(qMediaFeatures, qMediaFeaturesSql))

  /** REAL image decode (VERDICT r3 #4): render a deterministic gradient
    * PNG per document (ImageCodec.encodePng — genuine PNG containers),
    * decode it back through `javax.imageio` (ImageCodec.decodeStats),
    * and emit dimensions + per-channel means. Because each pixel is a
    * closed-form function of (x, y, seed), the oracle recomputes the
    * expected features ARITHMETICALLY — no image library in DuckDB —
    * so a green row proves the decode read real pixels out of a real
    * PNG, not plumbing. Channel mean = one IEEE division of an exact
    * integer sum, the catalog's usual bit-parity shape; the CPU-heavy
    * encode/decode stage is rebalanced across cores first (single
    * row-group parquet inputs never split locally).
    */
  val qImageFeatures: Q = (s, dir) => {
    import graft.multimodal.Multimodal
    val dims = rebalanced(tbl(s, dir, "documents").select(col("doc_id")))
      .withColumn("w", (lit(8) + pmod(col("doc_id"), lit(9))).cast("int"))
      .withColumn("h", (lit(8) + pmod(col("doc_id") * 3, lit(7))).cast("int"))
      .withColumn("seed", pmod(col("doc_id"), lit(1000)).cast("int"))
    val png = Multimodal.withEncodedPng(dims, "w", "h", "seed")
    // channel mean = integer sum / (w·h) — exact-integer 4-dp HALF_UP
    // (ratioCol; the r16 midpoint class: e.g. w·h = 160 puts odd sums
    // exactly on .5·10⁻⁵, where the engines' double paths round apart)
    Multimodal.withImageStats(png, "png")
      .select(
        col("doc_id"),
        col("img_width"),
        col("img_height"),
        ratioCol("sum_r", "(img_width * CAST(img_height AS BIGINT))", 10000L).as("mean_r"),
        ratioCol("sum_g", "(img_width * CAST(img_height AS BIGINT))", 10000L).as("mean_g"),
        ratioCol("sum_b", "(img_width * CAST(img_height AS BIGINT))", 10000L).as("mean_b")
      )
  }

  val qImageFeaturesSql: String =
    """WITH dims AS (
         SELECT doc_id,
                CAST(8 + doc_id % 9 AS INT) AS w,
                CAST(8 + (doc_id * 3) % 7 AS INT) AS h,
                CAST(doc_id % 1000 AS INT) AS seed
         FROM documents),
       px AS (SELECT doc_id, w, h, seed, unnest(range(0, w)) AS x FROM dims),
       pxy AS (SELECT doc_id, w, h, seed, x, unnest(range(0, h)) AS y FROM px),
       sums AS (
         SELECT doc_id, any_value(w) AS w, any_value(h) AS h,
                sum((x * 31 + y * 17 + seed) % 256) AS sr,
                sum((x * 7 + y * 13 + 2 * seed) % 256) AS sg,
                sum((x * 3 + y * 29 + 5 * seed) % 256) AS sb
         FROM pxy GROUP BY doc_id)
       -- channel means exact-integer 4-dp HALF_UP (ratioCol mirror)
       SELECT doc_id, w AS img_width, h AS img_height,
              ((2 * sr * 10000 + w * h) // (2 * w * h)) / 10000.0 AS mean_r,
              ((2 * sg * 10000 + w * h) // (2 * w * h)) / 10000.0 AS mean_g,
              ((2 * sb * 10000 + w * h) // (2 * w * h)) / 10000.0 AS mean_b
       FROM sums ORDER BY doc_id"""
  row(CatalogRow("q_image_features", qImageFeatures, qImageFeaturesSql))

  /** REAL audio decode end-to-end: generate genuine RIFF/WAVE PCM
    * containers (javax.sound.sampled) per document, decode them back,
    * and emit container-reported format plus amplitude stats. The
    * oracle recomputes every stat arithmetically from the
    * deterministic sample formula — green means the bytes really
    * round-tripped through a real WAV encoder/decoder and the decoded
    * samples match the closed form.
    */
  val qAudioFeatures: Q = (s, dir) => {
    import graft.multimodal.Multimodal
    val dims = rebalanced(tbl(s, dir, "documents").select(col("doc_id")))
      .withColumn("n", (lit(400) + pmod(col("doc_id"), lit(351))).cast("int"))
      .withColumn("rate", lit(8000).cast("int"))
      .withColumn("seed", pmod(col("doc_id"), lit(1000)).cast("int"))
    val wav = Multimodal.withEncodedWav(dims, "n", "rate", "seed")
    Multimodal.withAudioStats(wav, "wav")
      .select(
        col("doc_id"),
        col("sample_rate"),
        col("channels"),
        col("frames"),
        col("duration_ms"),
        // integer ratio sum_abs/n_samples — exact-integer 4-dp HALF_UP
        // (ratioCol; the r16 midpoint class)
        ratioCol("sum_abs", "n_samples", 10000L).as("mean_abs"),
        col("peak")
      )
  }

  val qAudioFeaturesSql: String =
    """WITH dims AS (
         SELECT doc_id,
                CAST(400 + doc_id % 351 AS INT) AS n,
                CAST(doc_id % 1000 AS INT) AS seed
         FROM documents),
       si AS (SELECT doc_id, n, seed, unnest(range(0, n)) AS i FROM dims),
       sums AS (
         SELECT doc_id, any_value(n) AS n,
                sum(abs((i * 37 + seed * 101) % 65536 - 32768)) AS sa,
                max(abs((i * 37 + seed * 101) % 65536 - 32768)) AS pk
         FROM si GROUP BY doc_id)
       SELECT doc_id,
              CAST(8000 AS INT) AS sample_rate,
              CAST(1 AS INT) AS channels,
              CAST(n AS BIGINT) AS frames,
              CAST(n AS BIGINT) * 1000 // 8000 AS duration_ms,
              ((2 * sa * 10000 + n) // (2 * n)) / 10000.0 AS mean_abs,
              CAST(pk AS INT) AS peak
       FROM sums ORDER BY doc_id"""
  row(CatalogRow("q_audio_features", qAudioFeatures, qAudioFeaturesSql))

  /** REAL video decode end-to-end (the last codec to go real — VERDICT
    * r8 #1): generate a genuine MJPEG-in-AVI clip per document
    * (VideoCodec.encodeAviMjpeg — a RIFF container of real javax.imageio
    * JPEG frames), decode it back frame by frame, and emit container
    * format plus pixel stats. Frames are constant within each aligned
    * 8x8 block, which survives JPEG's DCT bit-exactly (flat blocks, DC
    * only; pinned exhaustively in VideoCodecSpec), so the oracle
    * recomputes every stat ARITHMETICALLY from the blockValue closed
    * form — green proves real JPEG frames came out of a real AVI
    * container with the right pixels in the right frames. Mean level =
    * one IEEE division of an exact integer sum; fps drawn from
    * {8,10,20,25} so the avih microseconds-per-frame field is exact.
    */
  val qVideoFeatures: Q = (s, dir) => {
    import graft.multimodal.Multimodal
    val dims = rebalanced(tbl(s, dir, "documents").select(col("doc_id")))
      .withColumn("wb", (lit(2) + pmod(col("doc_id"), lit(3))).cast("int"))
      .withColumn("hb", (lit(2) + pmod(col("doc_id") * 5, lit(3))).cast("int"))
      .withColumn("nf", (lit(3) + pmod(col("doc_id"), lit(6))).cast("int"))
      .withColumn("fps_in", // decode re-derives `fps` from the container
        element_at(array(lit(8), lit(10), lit(20), lit(25)),
          (pmod(col("doc_id"), lit(4)) + 1).cast("int")))
      .withColumn("seed", pmod(col("doc_id"), lit(1000)).cast("int"))
    val avi = Multimodal.withEncodedAvi(dims, "wb", "hb", "nf", "fps_in", "seed")
    Multimodal.withVideoStats(avi, "avi")
      .select(
        col("doc_id"),
        col("vid_width"),
        col("vid_height"),
        col("n_frames"),
        col("fps"),
        col("duration_ms"),
        // integer ratio pixel_sum/(frames·w·h) — exact-integer 4-dp
        // HALF_UP. The oracle's block-level pair (s_blocks/(nf·wb·hb))
        // is the same ratio scaled by 64 (8×8 constant blocks), and
        // exact rational rounding is representation-independent.
        ratioCol("pixel_sum",
          "(CAST(n_frames AS BIGINT) * vid_width * vid_height)", 10000L).as("mean_level"),
        col("peak_level")
      )
  }

  val qVideoFeaturesSql: String =
    """WITH dims AS (
         SELECT doc_id,
                CAST(2 + doc_id % 3 AS INT) AS wb,
                CAST(2 + (doc_id * 5) % 3 AS INT) AS hb,
                CAST(3 + doc_id % 6 AS INT) AS nf,
                CAST([8, 10, 20, 25][CAST(doc_id % 4 AS INT) + 1] AS INT) AS fps,
                CAST(doc_id % 1000 AS INT) AS seed
         FROM documents),
       fr AS (SELECT doc_id, wb, hb, nf, fps, seed, unnest(range(0, nf)) AS f FROM dims),
       frx AS (SELECT doc_id, wb, hb, nf, fps, seed, f, unnest(range(0, wb)) AS bx FROM fr),
       frxy AS (SELECT doc_id, wb, hb, nf, fps, seed, f, bx, unnest(range(0, hb)) AS by FROM frx),
       sums AS (
         SELECT doc_id, any_value(wb) AS wb, any_value(hb) AS hb,
                any_value(nf) AS nf, any_value(fps) AS fps,
                sum((bx * 53 + by * 101 + f * 29 + seed * 13) % 256) AS s,
                max((bx * 53 + by * 101 + f * 29 + seed * 13) % 256) AS pk
         FROM frxy GROUP BY doc_id)
       SELECT doc_id,
              CAST(wb * 8 AS INT) AS vid_width,
              CAST(hb * 8 AS INT) AS vid_height,
              CAST(nf AS INT) AS n_frames,
              CAST(fps AS INT) AS fps,
              CAST(nf AS BIGINT) * 1000 // fps AS duration_ms,
              ((2 * s * 10000 + nf * wb * hb) // (2 * nf * wb * hb)) / 10000.0 AS mean_level,
              CAST(pk AS INT) AS peak_level
       FROM sums ORDER BY doc_id"""
  row(CatalogRow("q_video_features", qVideoFeatures, qVideoFeaturesSql))

  /** REAL HTML extraction end-to-end (S1/S2/C13, html_loader.py:38-113
    * + text_cleaner.py:227-260): synthesize a deterministic HTML
    * document per row — title with a raw entity, boilerplate
    * (script/style/nav/header/footer + a comment), h1/h2 headings,
    * paragraphs carrying escaped angle brackets, lists, tables — and
    * run the REAL [[graft.sources.HtmlLoader]] extractor over it. The
    * oracle reconstructs every graded field string-algebraically from
    * doc_id, so green proves: boilerplate blocks dropped, tags
    * stripped BEFORE entities unescape (the `&lt;id&gt;` → literal
    * `<id>` survivor pins the order), title captured raw, headings
    * collected with level+text, and structure counts exact.
    *
    * text_norm grades the extracted text with runs of whitespace
    * collapsed — the raw form's exact space placement is an artifact
    * of tag→space replacement, not semantics; the visible token
    * sequence is what get_text parity means.
    */
  val qHtmlExtract: Q = (s, dir) => {
    import graft.sources.HtmlLoader
    val d = rebalanced(tbl(s, dir, "documents").select(col("doc_id")))
      .withColumn("np", (pmod(col("doc_id"), lit(4)) + 1).cast("int"))
      .withColumn("nl", pmod(col("doc_id"), lit(3)).cast("int"))
      .withColumn("nt", pmod(col("doc_id"), lit(2)).cast("int"))
      .withColumn("nh", (pmod(col("doc_id"), lit(3)) + 1).cast("int"))
    val h2s = array_join(
      transform(sequence(lit(1), col("nh")),
        i => concat(lit("<h2>Part "), col("doc_id") * 7 + i, lit("</h2>"))), "")
    val ps = array_join(
      transform(sequence(lit(1), col("np")),
        j => concat(lit("<p>Alpha "), col("doc_id"), lit(" beta &lt;"), col("doc_id"),
          lit("&gt; gamma "), col("doc_id") * 31 + j, lit(".</p>"))), "")
    // sequence(1, 0) yields a DESCENDING [1,0], not empty — guard the
    // zero-count cases explicitly
    val ls = when(col("nl") >= 1, array_join(
      transform(sequence(lit(1), col("nl")),
        j => concat(lit("<ul><li>item "), col("doc_id") * 13 + j, lit("</li></ul>"))), ""))
      .otherwise(lit(""))
    val ts = when(col("nt") >= 1, array_join(
      transform(sequence(lit(1), col("nt")),
        j => concat(lit("<table><tr><td>cell "), col("doc_id") * 17 + j,
          lit("</td></tr></table>"))), ""))
      .otherwise(lit(""))
    val html = concat(
      lit("<html><head><title>Doc "), col("doc_id"), lit(" &amp; Co</title>"),
      lit("<style>p{color:red}</style><script>var x = 1;</script></head><body>"),
      lit("<!-- hidden --><header>HDR</header><nav><a href=\"#\">NAV</a></nav>"),
      lit("<h1>Main "), col("doc_id"), lit("</h1>"),
      h2s, ps, ls, ts,
      lit("<footer>FTR</footer></body></html>"))
    d.withColumn("p", HtmlLoader.extract(html))
      .select(
        col("doc_id"),
        col("p._2").as("title"),
        array_join(
          transform(col("p._3"), h => concat(h.getField("_1"), lit(":"), h.getField("_2"))),
          "|").as("headings_str"),
        col("p._4").as("list_count"),
        col("p._5").as("table_count"),
        col("p._6").as("paragraph_count"),
        trim(regexp_replace(col("p._1"), "\\s+", " ")).as("text_norm"))
  }

  val qHtmlExtractSql: String =
    """WITH d AS (
         SELECT doc_id,
                doc_id % 4 + 1 AS np, doc_id % 3 AS nl,
                doc_id % 2 AS nt, doc_id % 3 + 1 AS nh
         FROM documents),
       h2 AS (
         SELECT doc_id,
                string_agg('2:Part ' || (doc_id*7 + j), '|' ORDER BY j) AS hstr,
                string_agg('Part ' || (doc_id*7 + j), ' ' ORDER BY j) AS htxt
         FROM (SELECT doc_id, unnest(range(1, nh + 1)) AS j FROM d) GROUP BY doc_id),
       ps AS (
         SELECT doc_id,
                string_agg('Alpha ' || doc_id || ' beta <' || doc_id || '> gamma ' ||
                           (doc_id*31 + j) || '.', ' ' ORDER BY j) AS ptxt
         FROM (SELECT doc_id, unnest(range(1, np + 1)) AS j FROM d) GROUP BY doc_id),
       ls AS (
         SELECT doc_id, string_agg('item ' || (doc_id*13 + j), ' ' ORDER BY j) AS ltxt
         FROM (SELECT doc_id, unnest(range(1, nl + 1)) AS j FROM d) GROUP BY doc_id),
       ts AS (
         SELECT doc_id, string_agg('cell ' || (doc_id*17 + j), ' ' ORDER BY j) AS ttxt
         FROM (SELECT doc_id, unnest(range(1, nt + 1)) AS j FROM d) GROUP BY doc_id)
       SELECT d.doc_id,
              'Doc ' || d.doc_id || ' &amp; Co' AS title,
              '1:Main ' || d.doc_id || '|' || h2.hstr AS headings_str,
              CAST(d.nl AS INT) AS list_count,
              CAST(d.nt AS INT) AS table_count,
              CAST(d.np AS INT) AS paragraph_count,
              concat_ws(' ',
                'Doc ' || d.doc_id || ' & Co',
                'Main ' || d.doc_id,
                h2.htxt, ps.ptxt, ls.ltxt, ts.ttxt) AS text_norm
       FROM d
       JOIN h2 USING (doc_id) JOIN ps USING (doc_id)
       LEFT JOIN ls ON d.doc_id = ls.doc_id
       LEFT JOIN ts ON d.doc_id = ts.doc_id
       ORDER BY d.doc_id"""
  row(CatalogRow("q_html_extract", qHtmlExtract, qHtmlExtractSql))

  /** The REAL filesystem load path (S1+S3+S8): one deterministic HTML
    * file per document row is written to a local source tree (one
    * folder per doc_id%5, written ONCE per JVM from the executors),
    * then [[graft.sources.HtmlLoader.load]] runs its actual
    * binaryFile scan — recursive lookup, glob filter, path-derived
    * folder/filename/file_type, file_size from the scan's length
    * column, the cleaning battery, content language detect, and the
    * S8 min-chars filter (doc_id%29==0 files carry a near-empty body
    * and must be dropped; doc_id%41==0 files are CORRUPT control-byte
    * garbage the extractor must survive without throwing — O9). The
    * oracle rebuilds the exact bytes written, so file_size and the
    * cleaned text both replay closed-form, and it excludes the
    * corrupt ids: a thrown exception or a leaked garbage row both
    * break the match.
    */
  val qHtmlLoad: Q = (s, dir) => {
    val root = htmlSourceDirFor(s, dir)
    graft.sources.HtmlLoader.load(s, root)
      .select(
        regexp_extract(col("filename"), "doc_(\\d+)", 1).cast("bigint").as("doc_id"),
        col("filename"),
        col("folder_name"),
        col("file_type"),
        col("file_size"),
        col("title"),
        col("heading_count"),
        col("list_count"),
        col("table_count"),
        col("paragraph_count"),
        col("text"),
        col("char_count"),
        col("language"))
  }

  val qHtmlLoadSql: String =
    """WITH d AS (SELECT doc_id FROM documents WHERE doc_id % 29 <> 0 AND doc_id % 41 <> 0),
       h AS (
         SELECT doc_id,
                '<html><head><title>Title ' || doc_id ||
                '</title></head><body><h1>Heading ' || doc_id ||
                '</h1><p>Paragraph body ' || doc_id || ' alpha ' || (doc_id*31) ||
                ' omega ' || (doc_id*17) || '</p></body></html>' AS html,
                'Title ' || doc_id || ' Heading ' || doc_id || chr(10) ||
                'Paragraph body ' || doc_id || ' alpha ' || (doc_id*31) ||
                ' omega ' || (doc_id*17) AS cleaned
         FROM d)
       SELECT doc_id,
              'doc_' || doc_id || '.html' AS filename,
              'folder' || (doc_id % 5) AS folder_name,
              'html' AS file_type,
              CAST(length(html) AS BIGINT) AS file_size,
              'Title ' || doc_id AS title,
              CAST(1 AS INT) AS heading_count,
              CAST(0 AS INT) AS list_count,
              CAST(0 AS INT) AS table_count,
              CAST(1 AS INT) AS paragraph_count,
              cleaned AS text,
              CAST(length(cleaned) AS INT) AS char_count,
              'english' AS language
       FROM h ORDER BY doc_id"""
  row(CatalogRow("q_html_load", qHtmlLoad, qHtmlLoadSql))

  /** One HTML source tree per sf dir per JVM — LOCAL-MODE BENCH
    * SCAFFOLDING: files are generated from the executors in parallel
    * and then scanned back from the same root, which only co-locates
    * because local mode runs executors on this host. The operator
    * under test (HtmlLoader.load) takes any directory; on a real
    * cluster point `graft.html.src.root` (system property) at a shared
    * filesystem and the same code path works unchanged. A stale tree
    * from a previous JVM is deleted first. ConcurrentHashMap
    * .computeIfAbsent (not TrieMap.getOrElseUpdate, which may run a
    * racing generator twice) keeps the delete+write builder atomic per
    * dir: a second caller blocks instead of deleting the tree under a
    * first caller's in-flight scan.
    */
  private val htmlDirCache = new java.util.concurrent.ConcurrentHashMap[String, String]

  private def htmlSourceDirFor(s: SparkSession, dir: String): String =
    htmlDirCache.computeIfAbsent(
      dir, { _ =>
        val tag = dir.replaceAll("[^a-zA-Z0-9]", "_")
        val base = System.getProperty("graft.html.src.root", "/tmp")
        val root = s"$base/graft_html_src$tag"
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
        tbl(s, dir, "documents")
          .select(col("doc_id").cast("long"))
          .repartition(s.sparkContext.defaultParallelism)
          .foreachPartition { it: Iterator[org.apache.spark.sql.Row] =>
            it.foreach { r =>
              val id = r.getLong(0)
              // doc_id%41==0 → CORRUPT file (O9): fixed control-byte
              // garbage, no markup. The extractor must not throw; the
              // battery cleans it to empty and S8 drops the row.
              // doc_id%29==0 → near-empty body: S8 must drop it too.
              val bytes: Array[Byte] =
                if (id % 41 == 0) Array.tabulate[Byte](64)(i => ((i % 8) + 1).toByte)
                else if (id % 29 == 0)
                  "<html><head><title></title></head><body><p>.</p></body></html>"
                    .getBytes("UTF-8")
                else
                  (s"<html><head><title>Title $id</title></head><body><h1>Heading $id" +
                    s"</h1><p>Paragraph body $id alpha ${id * 31} omega ${id * 17}" +
                    "</p></body></html>").getBytes("UTF-8")
              val p = java.nio.file.Paths.get(root, s"folder${id % 5}", s"doc_$id.html")
              java.nio.file.Files.createDirectories(p.getParent)
              java.nio.file.Files.write(p, bytes)
            }
          }
        root
      }
    )

  /** REAL HWPX extraction end-to-end (S7, hwp_loader.py:417-460):
    * build a genuine zip container per row (two section XMLs with
    * entities and a comment, a dc:title/dc:creator meta entry, plus
    * decoy entries the reader must skip), run the REAL
    * [[graft.sources.HwpLoader.extractHwpx]], and have the oracle
    * recompute the XML-stripped text closed-form. doc_id%31==0 rows
    * get a sectionless container and must be dropped (S8 null
    * contract); doc_id%41==0 rows get CORRUPT bytes (non-zip garbage /
    * a PK signature over garbage fields) the reader must survive
    * without throwing (O9). Green proves a real zip+XML round-trip: entry
    * filtering, section name ordering, tag strip, entity unescape,
    * tab/space collapse, and meta tag capture.
    */
  val qHwpxExtract: Q = (s, dir) => {
    import graft.sources.{HwpLoader, HwpPayloads}
    val gen = udf { (id: Long) =>
      val meta = s"""<?xml version="1.0"?><opf:metadata><dc:title>문서 $id</dc:title>""" +
        s"""<dc:creator>작성자 ${id % 7}</dc:creator></opf:metadata>"""
      // O9: corrupt containers the reader must survive without
      // throwing — even ids: fixed non-zip garbage (no entries), odd
      // ids: a PK local-header signature followed by garbage fields.
      // Both deterministically yield null text → filtered.
      if (id % 41 == 0) {
        if (id % 2 == 0) Array.tabulate[Byte](96)(i => ((i * 7) % 251).toByte)
        else Array[Byte](0x50, 0x4b, 0x03, 0x04) ++
          Array.tabulate[Byte](64)(i => ((i * 11) % 250).toByte)
      } else if (id % 31 == 0) HwpPayloads.buildHwpxZip(Seq.empty, meta)
      else {
        val s0 = s"""<?xml version="1.0" encoding="UTF-8"?><hs:sec><hp:p><hp:t>Alpha $id beta &amp; gamma ${id * 7}</hp:t></hp:p>""" +
          s"""<!-- note --><hp:p><hp:t>delta &lt;$id&gt;</hp:t></hp:p></hs:sec>"""
        val s1 = s"""<hs:sec><hp:p><hp:t>Omega ${id * 13}</hp:t></hp:p></hs:sec>"""
        HwpPayloads.buildHwpxZip(Seq(s0, s1), meta)
      }
    }
    // nondeterministic (r19): the isNotNull filter otherwise gets
    // inferred below the projection AND below the rebalance exchange —
    // every container was built+parsed twice, the first time in ONE
    // task (plan-verified; the hwp twin profiled an 812 ms single-task
    // filter stage ahead of the 32-task projection).
    val parse = udf { (bytes: Array[Byte]) =>
      val d = HwpLoader.extractHwpx(bytes)
      if (d.text == null) null else (d.text, d.title, d.author)
    }.asNondeterministic()
    rebalanced(tbl(s, dir, "documents").select(col("doc_id")))
      .withColumn("p", parse(gen(col("doc_id"))))
      .filter(col("p").isNotNull)
      .select(
        col("doc_id"),
        col("p._2").as("title"),
        col("p._3").as("author"),
        col("p._1").as("text"))
  }

  val qHwpxExtractSql: String =
    """SELECT doc_id,
              '문서 ' || doc_id AS title,
              '작성자 ' || (doc_id % 7) AS author,
              ' Alpha ' || doc_id || ' beta & gamma ' || (doc_id*7) ||
              ' delta <' || doc_id || '> ' || chr(10) ||
              ' Omega ' || (doc_id*13) || ' ' AS text
       FROM documents WHERE doc_id % 31 <> 0 AND doc_id % 41 <> 0 ORDER BY doc_id"""
  row(CatalogRow("q_hwpx_extract", qHwpxExtract, qHwpxExtractSql))

  /** REAL HWP v5 (CFB/OLE2) extraction end-to-end (S4+S5,
    * hwp_loader.py:126-239 + 358-371): build a spec-conformant CFB
    * container per row — FAT, directory tree, miniFAT/mini-stream,
    * FileHeader compression flag, TWO raw-deflated (even doc_id) or
    * stored (odd doc_id) UTF-16LE BodyText sections, and an MS-OLEPS
    * summary stream — then run the REAL
    * [[graft.sources.HwpLoader.extractHwpDoc]]. The section text
    * carries U+2122 (outside the S5 whitelist → single space), so the
    * oracle's closed-form text also proves the codepoint whitelist.
    * doc_id%37==0 rows get a sectionless container → dropped (S8);
    * doc_id%41==0 rows get CORRUPT containers (truncated below the CFB
    * header / flipped magic) that must yield null, not throw (O9).
    */
  val qHwpExtract: Q = (s, dir) => {
    import graft.sources.{HwpLoader, HwpPayloads}
    val gen = udf { (id: Long) =>
      // O9: corrupt containers — even ids: a valid container truncated
      // below the 512-byte CFB header (read must fail, not garbage-
      // parse), odd ids: first magic byte flipped. Both → null text.
      if (id % 41 == 0) {
        val good = HwpPayloads.buildHwpCfb(
          Seq(s"x $id"), compressed = true, title = "t", author = "a")
        if (id % 2 == 0) good.take(137)
        else { val b = good.clone(); b(0) = 0x42; b }
      } else if (id % 37 == 0)
        HwpPayloads.buildHwpCfb(
          Seq.empty, compressed = true, title = s"제목 $id", author = s"필자 ${id % 5}")
      else
        HwpPayloads.buildHwpCfb(
          Seq(s"한글 본문 $id alpha ${id * 7}™끝", s"둘째 ${id * 3}"),
          compressed = id % 2 == 0,
          title = s"제목 $id",
          author = s"필자 ${id % 5}")
    }
    // nondeterministic (r19): see qHwpxExtract — stops the inferred
    // isNotNull filter from re-evaluating build+parse below the
    // rebalance exchange (812 ms single-task stage, plan-verified).
    val parse = udf { (bytes: Array[Byte]) =>
      val d = HwpLoader.extractHwpDoc(bytes)
      if (d._1 == null) null else (d._1, d._2, d._3)
    }.asNondeterministic()
    rebalanced(tbl(s, dir, "documents").select(col("doc_id")))
      .withColumn("p", parse(gen(col("doc_id"))))
      .filter(col("p").isNotNull)
      .select(
        col("doc_id"),
        col("p._2").as("title"),
        col("p._3").as("author"),
        col("p._1").as("text"))
  }

  val qHwpExtractSql: String =
    """SELECT doc_id,
              '제목 ' || doc_id AS title,
              '필자 ' || (doc_id % 5) AS author,
              '한글 본문 ' || doc_id || ' alpha ' || (doc_id*7) || ' 끝' || chr(10) ||
              '둘째 ' || (doc_id*3) AS text
       FROM documents WHERE doc_id % 37 <> 0 AND doc_id % 41 <> 0 ORDER BY doc_id"""
  row(CatalogRow("q_hwp_extract", qHwpExtract, qHwpExtractSql))

  /** Exact dedup over a BINARY multimodal column: md5 of real encoded
    * PNG payloads as the duplicate key, keep-first via the
    * hot-key-safe [[graft.dedup.Dedup.exactDedupAggJoin]] (a popular
    * meme image is the multimodal hot key by construction). Payload
    * dimensions are planted so doc_id % 25 fully determines the pixel
    * content — 25 duplicate classes — and the oracle reduces to
    * arithmetic on doc_id: a green row certifies the real PNG encoder
    * is bit-deterministic (equal pixels ⇒ equal bytes ⇒ equal md5)
    * AND the binary keep-first picks exactly the arithmetic winners.
    */
  val qMediaDedup: Q = (s, dir) => {
    import graft.multimodal.Multimodal
    val dims = rebalanced(tbl(s, dir, "documents").select(col("doc_id")))
      .withColumn("w", (lit(8) + pmod(col("doc_id"), lit(5))).cast("int"))
      .withColumn("h", (lit(8) + pmod(col("doc_id"), lit(5))).cast("int"))
      .withColumn("seed", pmod(col("doc_id"), lit(25)).cast("int"))
    val png = Multimodal.withEncodedPng(dims, "w", "h", "seed")
      .withColumn("k", md5(col("png")))
    val kept = Dedup.exactDedupAggJoin(png, "k", Seq("doc_id"))
      .select(col("doc_id").as("keep_id"), col("k"))
    val copies = png.groupBy("k").agg(count(lit(1)).as("n_copies"))
    kept.join(copies, "k").select("keep_id", "n_copies")
  }

  val qMediaDedupSql: String =
    """SELECT min(doc_id) AS keep_id, count(*) AS n_copies
       FROM documents GROUP BY doc_id % 25 ORDER BY keep_id"""
  row(CatalogRow("q_media_dedup", qMediaDedup, qMediaDedupSql))

  /** REAL image transform end-to-end
    * ([[graft.multimodal.Multimodal.withResizedPng]]): encode genuine
    * PNGs, nearest-neighbor half-scale them (decode → sample
    * out(x,y) = in(2x,2y) → re-encode), then decode the RESIZED
    * payloads for stats. The oracle recomputes the resized means from
    * the pixel formula at (2x, 2y) — green certifies two full trips
    * through the real codec plus the transform arithmetic.
    */
  val qImageResize: Q = (s, dir) => {
    import graft.multimodal.Multimodal
    val dims = rebalanced(tbl(s, dir, "documents").select(col("doc_id")))
      .withColumn("w", (lit(8) + pmod(col("doc_id"), lit(9))).cast("int"))
      .withColumn("h", (lit(8) + pmod(col("doc_id") * 3, lit(7))).cast("int"))
      .withColumn("seed", pmod(col("doc_id"), lit(1000)).cast("int"))
    val png = Multimodal.withEncodedPng(dims, "w", "h", "seed")
    val small = Multimodal.withResizedPng(png, "png")
    // exact-integer 4-dp HALF_UP over the integer channel sums — see
    // qImageFeatures
    Multimodal.withImageStats(small.drop("png"), "png_small")
      .select(
        col("doc_id"),
        col("img_width"), col("img_height"),
        ratioCol("sum_r", "(img_width * CAST(img_height AS BIGINT))", 10000L).as("mean_r"),
        ratioCol("sum_g", "(img_width * CAST(img_height AS BIGINT))", 10000L).as("mean_g"),
        ratioCol("sum_b", "(img_width * CAST(img_height AS BIGINT))", 10000L).as("mean_b"))
  }

  val qImageResizeSql: String =
    """WITH dims AS (
         SELECT doc_id,
                CAST((8 + doc_id % 9) // 2 AS INT) AS w2,
                CAST((8 + (doc_id * 3) % 7) // 2 AS INT) AS h2,
                CAST(doc_id % 1000 AS INT) AS seed
         FROM documents),
       px AS (SELECT doc_id, w2, h2, seed, unnest(range(0, w2)) AS x FROM dims),
       pxy AS (SELECT doc_id, w2, h2, seed, x, unnest(range(0, h2)) AS y FROM px),
       sums AS (
         SELECT doc_id, any_value(w2) AS w2, any_value(h2) AS h2,
                sum((2 * x * 31 + 2 * y * 17 + seed) % 256) AS sr,
                sum((2 * x * 7 + 2 * y * 13 + 2 * seed) % 256) AS sg,
                sum((2 * x * 3 + 2 * y * 29 + 5 * seed) % 256) AS sb
         FROM pxy GROUP BY doc_id)
       SELECT doc_id, w2 AS img_width, h2 AS img_height,
              ((2 * sr * 10000 + w2 * h2) // (2 * w2 * h2)) / 10000.0 AS mean_r,
              ((2 * sg * 10000 + w2 * h2) // (2 * w2 * h2)) / 10000.0 AS mean_g,
              ((2 * sb * 10000 + w2 * h2) // (2 * w2 * h2)) / 10000.0 AS mean_b
       FROM sums ORDER BY doc_id"""
  row(CatalogRow("q_image_resize", qImageResize, qImageResizeSql))
}
