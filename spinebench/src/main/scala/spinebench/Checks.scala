package spinebench

import org.apache.spark.sql.{DataFrame, Row}

/** Output checks. Each returns `Left(reason)` on a wrong output, so a
  * failed check counts its op as failed.
  */
object Checks {

  /** What one ETL pass must have written for one source tree. */
  final case class StoreSummary(rows: Long, distinctIds: Long, sources: Set[String], minDim: Int,
      maxDim: Int, maxNormError: Double, digest: Long)

  /** Reads a store with one plain scan (a single stable generated class,
    * so checking does not crowd the program's classes out of the codegen
    * cache) and summarizes it in the harness: row and id counts, the
    * source files present, embedding shape, and an order-free digest.
    */
  def summarize(store: DataFrame): StoreSummary = {
    val rows = store.select("chunk_id", "source", "text", "language", "collection", "embedding").collect()
    val ids = rows.map(_.getString(0))
    val vecs = rows.map(_.getSeq[Float](5))
    val dims = vecs.map(_.size)
    val normError = vecs.iterator.map(v => math.abs(math.sqrt(v.map(x => x.toDouble * x.toDouble).sum) - 1.0))
    // xor of per-row hashes: independent of row order, like the store
    val digest = rows.iterator.map(r => scala.util.hashing.MurmurHash3.seqHash(r.toSeq).toLong).foldLeft(0L)(_ ^ _)
    StoreSummary(rows.length.toLong, ids.distinct.length.toLong, rows.map(_.getString(1)).toSet,
      if (dims.isEmpty) 0 else dims.min, if (dims.isEmpty) 0 else dims.max,
      if (normError.hasNext) normError.max else Double.NaN, digest)
  }

  /** The ETL checks: the documents kept are exactly the planted
    * survivors (so planted duplicates and short pages are gone), store
    * rows equal the chunk count, chunk ids are unique, embeddings are
    * 1024-d unit vectors, and the digest equals the first pass's.
    */
  def etl(s: StoreSummary, chunkRows: Long, tree: Corpus.Tree, treeRoot: String,
      firstDigest: Option[Long]): Either[String, Long] = {
    val prefix = "file:" + treeRoot.stripSuffix("/") + "/"
    val kept = s.sources.map(_.stripPrefix(prefix))
    val missing = tree.survivors -- kept
    val extra = kept -- tree.survivors
    if (missing.nonEmpty || extra.nonEmpty)
      Left(s"kept docs differ from planted survivors: missing ${missing.take(3)}, unexpected ${extra.take(3)}" +
        s" (planted duplicates left: ${(extra & tree.duplicates).size}, short pages left: ${(extra & tree.short).size})")
    else if (s.rows != chunkRows) Left(s"store rows ${s.rows} != chunk count $chunkRows")
    else if (s.distinctIds != s.rows) Left(s"chunk_id not unique: ${s.distinctIds} ids for ${s.rows} rows")
    else if (s.minDim != 1024 || s.maxDim != 1024) Left(s"embedding dims ${s.minDim}..${s.maxDim}, want 1024")
    else if (!(s.maxNormError <= 1e-4)) Left(s"embedding not unit length: max |norm - 1| = ${s.maxNormError}")
    else if (firstDigest.exists(_ != s.digest)) Left(f"store digest ${s.digest}%016x differs from first pass ${firstDigest.get}%016x")
    else Right(s.digest)
  }

  /** The store's vectors held in the harness for exact brute-force
    * top-k. Norms and dot products use the program's arithmetic:
    * float→double, summed left to right.
    */
  final class ExactIndex(val ids: Array[String], val lang: Array[String], val vecs: Array[Array[Float]]) {
    val norms: Array[Double] = vecs.map(v => math.sqrt(dot(v, v)))

    /** Top-k (id, cosine) among rows of language `l`, best first. */
    def topK(q: Array[Float], l: String, k: Int): Seq[(String, Double)] = {
      val qn = math.sqrt(dot(q, q))
      ids.indices.iterator.filter(i => lang(i) == l).flatMap { i =>
        val d = norms(i) * qn
        if (d == 0.0) None else Some(ids(i) -> dot(vecs(i), q) / d)
      }.toSeq.sortBy(-_._2).take(k)
    }

    def score(id: String, q: Array[Float]): Option[(String, Double)] = {
      val i = ids.indexOf(id)
      if (i < 0) None else Some(lang(i) -> dot(vecs(i), q) / (norms(i) * math.sqrt(dot(q, q))))
    }
  }

  def dot(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) { s += a(i).toDouble * b(i).toDouble; i += 1 }
    s
  }

  def exactIndex(store: DataFrame): ExactIndex = {
    val rows = store.select("chunk_id", "language", "embedding").collect()
    new ExactIndex(rows.map(_.getString(0)), rows.map(_.getString(1)),
      rows.map(_.getSeq[Float](2).toArray))
  }

  /** The search check: the program detects the language the query was
    * generated in, and the hits equal the exact top-k under that
    * language's filter — same scores rank by rank, and every hit is a
    * row of that language scored as the harness scores it.
    */
  def search(hits: Seq[Row], q: Array[Float], lang: String, detected: String, k: Int,
      index: ExactIndex): Either[String, Unit] = {
    val want = index.topK(q, lang, k)
    val got = hits.map(r => r.getAs[String]("chunk_id") -> r.getAs[Double]("score"))
    val tol = 1e-9
    if (detected != lang) Left(s"query language detected as $detected, generated as $lang")
    else if (got.size != want.size) Left(s"${got.size} hits, want ${want.size}")
    else got.zip(want).zipWithIndex.collectFirst {
      case (((gid, gs), (_, ws)), i) if math.abs(gs - ws) > tol => s"rank ${i + 1}: score $gs, exact $ws"
      case (((gid, gs), _), i) if !index.score(gid, q).exists { case (l, s) => l == lang && math.abs(s - gs) <= tol } =>
        s"rank ${i + 1}: hit $gid is not a $lang row scoring $gs"
    }.toLeft(())
  }
}
