package spinebench

import graft.embed.Embedders
import graft.search.SearchFacade
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Self-tests of the harness: seeded inputs are reproducible, and every
  * output check rejects a planted fault. Prints one line per case and
  * exits non-zero if any case fails.
  *
  * Usage: spinebench.SelfTest DIR
  */
object SelfTest {
  private var failures = 0

  private def expect(name: String)(ok: => Boolean): Unit = {
    val pass = try ok catch { case e: Exception => System.err.println(e); false }
    if (!pass) failures += 1
    println(s"${if (pass) "ok  " else "FAIL"} $name")
  }

  private def sameTree(a: Corpus.Tree, b: Corpus.Tree) =
    a.files.size == b.files.size && a.files.zip(b.files).forall { case (x, y) =>
      x.rel == y.rel && java.util.Arrays.equals(x.bytes, y.bytes)
    } && a.survivors == b.survivors

  def main(argv: Array[String]): Unit = {
    val work = Paths.get(argv(0)).toAbsolutePath
    Files.createDirectories(work)

    for (kind <- Seq("html", "hwpx")) {
      expect(s"same seed gives a byte-identical $kind tree")(sameTree(Corpus.tree(7, kind, 60), Corpus.tree(7, kind, 60)))
      expect(s"another seed gives another $kind tree")(!sameTree(Corpus.tree(7, kind, 60), Corpus.tree(8, kind, 60)))
    }
    expect("same seed gives the same query stream")(Corpus.queries(7, 300) == Corpus.queries(7, 300))
    expect("another seed gives another query stream")(Corpus.queries(7, 300) != Corpus.queries(8, 300))
    expect("queries in a stream are distinct")(Corpus.queries(7, 300).map(_.text).distinct.size == 300)
    expect("a stream holds Korean and English queries in equal numbers")(
      Corpus.queries(7, 300).count(_.language == "korean") == 150)
    expect("a tree plants duplicates and short pages")(Corpus.tree(7, "html", 60).duplicates.nonEmpty &&
      Corpus.tree(7, "html", 60).short.nonEmpty)

    val spark = Main.session(work)
    val spine = new Spine(spark)
    val tree = Corpus.tree(7, "html", 60)
    val input = work.resolve("tree").toString
    tree.write(work.resolve("tree"))
    spine.cliAll("html", input, work.resolve("out").toString)
    val store = spark.read.parquet(work.resolve("out/store").toString)
    val chunkRows = spark.read.parquet(work.resolve("out/chunks").toString).count()
    val good = Checks.summarize(store)
    def etl(df: DataFrame, chunks: Long = chunkRows, first: Option[Long] = None) =
      Checks.etl(Checks.summarize(df), chunks, tree, input, first)

    expect("etl check passes on the spine's own output")(etl(store, first = Some(good.digest)).isRight)
    val victim = store.select("chunk_id").head().getString(0)
    expect("etl check fails on one perturbed embedding")(etl(store.withColumn("embedding",
      when(col("chunk_id") === victim, transform(col("embedding"), x => x * 1.01f)).otherwise(col("embedding")))).isLeft)
    val survivor = tree.survivors.min
    val planted = tree.duplicates.min
    val leftIn = store.filter(col("source") === s"file:$input/$survivor")
      .withColumn("source", lit(s"file:$input/$planted"))
      .withColumn("chunk_id", concat(col("chunk_id"), lit("x")))
    expect("etl check fails on one duplicate left in place")(etl(store.unionByName(leftIn), chunkRows + leftIn.count()).isLeft)
    expect("etl check fails when store rows differ from the chunk count")(etl(store, chunkRows + 1).isLeft)
    expect("etl check fails on a repeated chunk_id")(etl(store.unionByName(store.limit(1)), chunkRows + 1).isLeft)
    expect("etl check fails when the digest changes between passes")(etl(store, first = Some(good.digest + 1)).isLeft)

    val index = Checks.exactIndex(store)
    val query = Corpus.queries(7, 1).head
    val q = query.text
    val qv = Embedders.default.embed(q)
    val lang = query.language
    val otherLang = if (lang == "korean") "english" else "korean"
    val hits = SearchFacade.search(store, q, Embedders.default, 3).collect().toSeq
    def search(h: Seq[org.apache.spark.sql.Row], detected: String = SearchFacade.detectQueryLanguageScala(q)) =
      Checks.search(h, qv, lang, detected, 3, index)
    expect("search check passes on the program's hits")(search(hits).isRight)
    val schema = hits.head.schema
    def withScore(r: org.apache.spark.sql.Row, s: Double) =
      new org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema(
        r.toSeq.updated(schema.fieldIndex("score"), s).toArray, schema)
    expect("search check fails on a perturbed score")(search(withScore(hits.head, hits.head.getAs[Double]("score") + 1e-6) +: hits.tail).isLeft)
    expect("search check fails on a missing hit")(search(hits.tail).isLeft)
    val other = store.filter(col("language") =!= lang).head()
    val wrongLang = new org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema(
      schema.fieldNames.map(f => if (f == "score") hits.head.getAs[Double]("score") else other.getAs[Any](f)), schema)
    expect("search check fails on a hit outside the language filter")(search(wrongLang +: hits.tail).isLeft)
    expect("search check fails when the query language is detected wrongly")(search(hits, otherLang).isLeft)
    val wrongFilter = SearchFacade.search(store, q, Embedders.default, 3, filterLanguage = Some(otherLang)).collect().toSeq
    expect("search check fails on hits filtered to the other language")(search(wrongFilter).isLeft)
    spark.stop()

    println(if (failures == 0) "selftest ok" else s"selftest: $failures failed")
    sys.exit(if (failures == 0) 0 else 1)
  }
}
