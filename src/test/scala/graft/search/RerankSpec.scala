package graft.search

import graft.SparkTestBase

/** MMR selection pinned on a fixture where diversity genuinely
  * reorders: two near-identical high-relevance vectors and one
  * orthogonal lower-relevance vector.
  */
class RerankSpec extends SparkTestBase {

  import spark.implicits._

  // rel is the retriever's (already rounded) score; vectors chosen so
  // sim(a,b) ≈ 1 (clones), sim(a,c) = 0 (orthogonal).
  private def fixture = Seq(
    (1L, 0.95, Array(1.0f, 0.0f, 0.0f, 0.0f)), // a
    (2L, 0.94, Array(1.0f, 0.001f, 0.0f, 0.0f)), // a-clone
    (3L, 0.50, Array(0.0f, 1.0f, 0.0f, 0.0f)) // orthogonal c
  ).toDF("vec_id", "rel", "embedding")

  test("diversity demotes the near-duplicate below the orthogonal candidate") {
    val out = Rerank.mmr(fixture, 3, lambda = 0.7)
      .orderBy("rank").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
    // rank1: highest rel = a. rank2: clone scores .7·.94 − .3·1 ≈ .358;
    // c scores .7·.5 − .3·0 = .35 → clone still wins by a hair at λ=.7...
    // recompute: clone sim(a)=1.0 → .658−.3=.358 > .35 so clone is rank2.
    assert(out(0)._2 == 1L && math.abs(out(0)._3 - 0.95) < 1e-9)
    assert(out(1)._2 == 2L)
    assert(out(2)._2 == 3L)
    // with a stronger diversity weight the orthogonal candidate wins rank2
    val div = Rerank.mmr(fixture, 3, lambda = 0.5)
      .orderBy("rank").collect().map(_.getLong(1))
    assert(div.toSeq == Seq(1L, 3L, 2L))
  }

  test("mmr scores are the objective at selection time (hand-computed)") {
    val out = Rerank.mmr(fixture, 3, lambda = 0.5)
      .orderBy("rank").collect()
      .map(r => r.getLong(1) -> r.getDouble(2)).toMap
    assert(math.abs(out(1L) - 0.95) < 1e-9) // rank1 carries raw relevance
    assert(math.abs(out(3L) - (0.5 * 0.50 - 0.5 * 0.0)) < 1e-6) // orthogonal: sim 0
    assert(math.abs(out(2L) - (0.5 * 0.94 - 0.5 * 1.0)) < 1e-4) // clone: sim ≈ 1
  }

  test("k caps selections; ties break by ascending id") {
    val tied = Seq(
      (9L, 0.9, Array(1.0f, 0.0f)),
      (4L, 0.9, Array(0.0f, 1.0f)),
      (7L, 0.9, Array(0.0f, 1.0f))
    ).toDF("vec_id", "rel", "embedding")
    val out = Rerank.mmr(tied, 2, lambda = 0.7).orderBy("rank").collect().map(_.getLong(1))
    assert(out.length == 2)
    assert(out(0) == 4L) // equal rel → lowest id first
    assert(out(1) == 9L) // orthogonal to 4 beats 7 (clone of 4); 9 wins on diversity
  }

  test("k larger than the candidate set returns everything ranked") {
    val out = Rerank.mmr(fixture, 10).collect()
    assert(out.length == 3)
    assert(out.map(_.getInt(0)).sorted.toSeq == Seq(1, 2, 3))
  }

  test("a zero-vector candidate has sim 0.0 to every selected row") {
    val withZero = Seq(
      (1L, 0.9, Array(1.0f, 0.0f)),
      (2L, 0.5, Array(0.0f, 0.0f))
    ).toDF("vec_id", "rel", "embedding")
    val out = Rerank.mmr(withZero, 2, lambda = 0.5).orderBy("rank").collect()
      .map(r => (r.getLong(1), r.getDouble(2)))
    // 0.5·0.5 − 0.5·sim with sim = 0.0 exactly
    assert(out.toSeq == Seq((1L, 0.9), (2L, 0.25)))
  }
}
