// Prints SearchFacade.search's optimized and physical plans for a fixed query.
import org.apache.spark.sql.functions._
val emb = graft.embed.Embedders.default
val texts = Seq("spark join order table", "\uBD84\uC0B0 \uCC98\uB9AC \uC5D4\uC9C4", "vector search with filters", "\uC2A4\uD30C\uD06C \uC9D1\uACC4")
val raw = spark.createDataFrame(texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }).toDF("doc_id", "text")
  .withColumn("language", graft.lang.LanguageDetect.detectContentLanguage(col("text")))
val coll = graft.embed.Embedders.withEmbedding(raw, "text", "embedding", emb)
val out = java.nio.file.Files.createTempDirectory("facade-coll").toString
coll.write.mode("overwrite").parquet(out)
val stored = spark.read.parquet(out)
val hits = graft.search.SearchFacade.search(stored, "spark join order table", emb, 3)
println("[fp] OPTIMIZED\n" + hits.queryExecution.optimizedPlan.toString.replaceAll("#\\d+L?", "#N"))
println("[fp] RAW\n" + hits.queryExecution.optimizedPlan.toString)
println("[fp] PHYSICAL\n" + hits.queryExecution.executedPlan.toString)
hits.collect().foreach(r => println("[fp] row " + r.getAs[Long]("doc_id") + " " + r.getAs[Double]("score")))
System.exit(0)
