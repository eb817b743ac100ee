package graft.dedup

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.text.Tokens

/** Shared text canonicalization for every dedup family: the content
  * hash of the reference's normalized text, and the one shingle
  * implementation whose universe the signature builder, candidate
  * verifier and index side all agree on. The tokens and the normalized
  * text come from `graft.text.Tokens`.
  */
private[dedup] trait TextNormalization extends Serializable {

  /** Exact-hash content key: md5 of the text the reference hashes
    * (chunker.py:193-194, [[graft.text.Tokens.normalized]]); null → null.
    */
  def contentHash(c: Column): Column = md5(Tokens.normalized(c))

  /** Distinct word n-grams in ONE fused pass (UDF) — a
    * LinkedHashSet-dedup over [[shingleArray]], so the signature
    * builder, the candidate verifier, and this index-side helper share
    * ONE tokenize+shingle implementation (and therefore one canonical
    * empty-doc behavior: zero tokens → zero shingles). Fused because
    * the HOF transform/slice/concat_ws pipeline materializes an
    * intermediate array per shingle (~8 s of q_decontaminate at sf0.1;
    * same lesson as the MinHash signature builder). Marked
    * nondeterministic so the optimizer never duplicates it into
    * inferred filters under a later explode (InferFiltersFromGenerate).
    */
  def distinctShingles(textCol: Column, n: Int): Column = {
    val f = udf { (text: String) =>
      val seen = new java.util.LinkedHashSet[String]
      shingleArray(text, n).foreach(seen.add)
      import scala.jdk.CollectionConverters._
      seen.asScala.toSeq
    }
    f.asNondeterministic()(textCol)
  }

  /** Positional word n-grams over a PRE-TOKENIZED array in one fused
    * pass (UDF): array<struct<_1:int,_2:string>> — (1-based start,
    * gram) per window position, gram = the n tokens joined with one
    * space, bit-identical to the transform(sequence…)+slice+concat_ws
    * chain it replaces. That chain is a higher-order function —
    * evaluated INTERPRETED, outside whole-stage codegen, with a
    * per-position array slice + per-element dispatch — and profiled at
    * ~80 µs/gram in q_scrub_spans at sf0.1 (19 s of the row's 22 s
    * CPU; the same lesson [[distinctShingles]] already encodes for the
    * index-side helper). Fewer than n tokens → empty (callers gate on
    * size >= n anyway). Marked nondeterministic so the optimizer never
    * duplicates it into inferred filters under the explode above it.
    */
  def positionalGrams(toksCol: Column, n: Int): Column = {
    val f = udf { (toks: Seq[String]) =>
      val m = toks.length - n + 1
      if (m <= 0) Array.empty[(Int, String)]
      else {
        // IndexedSeq access is O(1); the builder reuses one buffer
        val out = new Array[(Int, String)](m)
        val sb = new java.lang.StringBuilder(64)
        var i = 0
        while (i < m) {
          sb.setLength(0)
          var j = i
          while (j < i + n) {
            if (j > i) sb.append(' ')
            sb.append(toks(j))
            j += 1
          }
          out(i) = (i + 1, sb.toString)
          i += 1
        }
        out
      }
    }
    f.asNondeterministic()(toksCol)
  }

  /** Tokenize ([[graft.text.Tokens.words]]) + shingle, as a plain
    * Scala function shared by the signature builder, the candidate
    * verifier, and the index-side [[distinctShingles]] so all see the
    * exact same shingle universe. Zero tokens → ZERO shingles (the
    * DuckDB oracles encode the same rule explicitly).
    */
  private[dedup] def shingleArray(text: String, n: Int): Array[String] = {
    val toks = Tokens.words(text)
    if (toks.length == 0) Array.empty
    else if (toks.length < n) Array(toks.mkString(" "))
    else Array.tabulate(toks.length - n + 1)(i => toks.slice(i, i + n).mkString(" "))
  }
}
