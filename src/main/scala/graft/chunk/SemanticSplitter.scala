package graft.chunk

import graft.embed.Embedder
import graft.functions.VectorKernel
import scala.collection.mutable.ArrayBuffer

/** K1 — semantic split (reference chunker.py:45-62 delegating to
  * LangChain's SemanticChunker; the CONTRACT is the spec — SURVEY.md
  * §2.3): split into sentences, embed each, compute cosine distance
  * between consecutive sentences, break where the distance exceeds the
  * Pth percentile of all distances (P = 70, config.py:72-73), emit the
  * grouped sentence runs.
  *
  * Falls back to whole-text pass-through when there are < 2 sentences —
  * mirroring the reference's own fallback (chunker.py:59-62, 137-141).
  * Pure per-document function; runs inside the chunker UDF so the
  * operator stays shuffle-free.
  */
final class SemanticSplitter(
    embedder: Embedder,
    breakpointPercentile: Double = 70.0
) extends Serializable {

  private[chunk] def splitSentences(text: String): Seq[String] = {
    if (text == null || text.isEmpty) return Seq.empty
    // sentence boundary: ./!/? followed by whitespace, or newline runs
    val parts = text.split("(?<=[.!?])\\s+|\\n+").toSeq
    parts.map(_.trim).filter(_.nonEmpty)
  }

  /** 1 − cosine; 1.0 when either vector is zero. */
  private def cosineDistance(a: Array[Float], b: Array[Float]): Double = {
    val d = VectorKernel.norm(a) * VectorKernel.norm(b)
    if (d == 0) 1.0 else 1.0 - VectorKernel.dot(a, b) / d
  }

  /** Linear-interpolated percentile (numpy default), matching the
    * reference library's breakpoint computation.
    */
  private[chunk] def percentile(values: Seq[Double], p: Double): Double = {
    val sorted = values.sorted
    if (sorted.isEmpty) return 0.0
    val rank = p / 100.0 * (sorted.length - 1)
    val lo = rank.toInt
    val hi = math.min(lo + 1, sorted.length - 1)
    val frac = rank - lo
    sorted(lo) * (1 - frac) + sorted(hi) * frac
  }

  /** Group semantically-adjacent sentences; break where consecutive
    * distance > percentile threshold.
    */
  def split(text: String): Seq[String] = {
    val sentences = splitSentences(text)
    if (sentences.length < 2) return if (text == null || text.isEmpty) Seq.empty else Seq(text)
    val vecs = embedder.embedBatch(sentences).toArray
    val distances = (0 until sentences.length - 1).map(i => cosineDistance(vecs(i), vecs(i + 1)))
    val threshold = percentile(distances, breakpointPercentile)
    val out = ArrayBuffer.empty[String]
    val current = ArrayBuffer(sentences.head)
    distances.zipWithIndex.foreach { case (d, i) =>
      if (d > threshold) {
        out += current.mkString(" ")
        current.clear()
      }
      current += sentences(i + 1)
    }
    if (current.nonEmpty) out += current.mkString(" ")
    out.toSeq
  }
}
