package graft.chunk

import graft.SparkTestBase
import graft.embed.{Embedder, HashEmbedder}
import graft.model.ChunkerConfig

class SemanticSplitterSpec extends SparkTestBase {

  private val splitter = new SemanticSplitter(new HashEmbedder(dim = 64))

  test("sentence splitting on punctuation + newlines") {
    val s = splitter.splitSentences("First sentence. Second one! Third?\nFourth line")
    assert(s == Seq("First sentence.", "Second one!", "Third?", "Fourth line"))
  }

  test("percentile is numpy-style linear interpolation") {
    assert(splitter.percentile(Seq(1.0, 2.0, 3.0, 4.0), 50) == 2.5)
    assert(splitter.percentile(Seq(1.0, 2.0, 3.0, 4.0, 5.0), 70) == 3.8)
    assert(splitter.percentile(Seq(7.0), 70) == 7.0)
  }

  test("single-sentence text passes through unchanged (reference fallback)") {
    assert(splitter.split("just one sentence here") == Seq("just one sentence here"))
    assert(splitter.split("") == Seq.empty)
  }

  test("breaks at high-distance boundaries, groups similar runs") {
    // two topic blocks: spark-y sentences vs cooking sentences
    val text = "spark runs queries. spark optimizes joins. spark shuffles data. " +
      "bake the bread slowly. knead the dough well. add flour and yeast."
    val groups = splitter.split(text)
    assert(groups.length >= 2, s"expected topic break, got $groups")
    // deterministic given the deterministic embedder
    assert(splitter.split(text) == groups)
  }

  test("integrates with Chunker in semantic_first mode") {
    val cfg = ChunkerConfig.default.copy(chunkingMode = "semantic_first")
    val text = ("alpha beta gamma. " * 20) + ("totally different cooking topic now. " * 20)
    val chunks = Chunker.chunkText(text, cfg, Some(splitter))
    assert(chunks.nonEmpty)
    chunks.foreach(c => assert(c.length <= cfg.maxChunkSize))
  }

  test("a zero embedding is at distance 1.0 from its neighbour") {
    val table = Map(
      "x." -> Array(1f, 0f), "w." -> Array(1f, 0f), "y." -> Array(0f, 1f), "z." -> Array(0f, 0f))
    // percentile 0: the threshold is the smallest distance, so the text
    // breaks exactly where a distance exceeds it
    val bySentence = new SemanticSplitter(new Embedder {
      val dim = 2
      def embed(text: String): Array[Float] = table(text)
    }, breakpointPercentile = 0.0)
    // distances (x,y) = 1.0 (orthogonal) and (y,z): no break, so (y,z) = 1.0
    assert(bySentence.split("x. y. z.") == Seq("x. y. z."))
    // distances (x,w) = 0.0 and (w,z): one break, so (w,z) > 0.0 (not NaN)
    assert(bySentence.split("x. w. z.") == Seq("x. w.", "z."))
  }
}
