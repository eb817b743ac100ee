import org.apache.spark.sql.functions._
import org.apache.spark.scheduler._
val cpu = new java.util.concurrent.atomic.AtomicLong(0)
spark.sparkContext.addSparkListener(new SparkListener {
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (e.taskMetrics != null) cpu.addAndGet(e.taskMetrics.executorCpuTime)
})
val rnd = new scala.util.Random(7)
val n = 50000; val dim = 64; val k = 32
val rows = (0 until n).map(i => (i.toLong, Array.fill(dim)(rnd.nextGaussian().toFloat)))
val df = spark.createDataFrame(rows).toDF("vec_id", "embedding").repartition(4).persist()
df.count()
val pivots = rows.take(k).map(_._2)
val bench = rows.take(k).map { case (i, v) => (i, v) }
def noop(d: org.apache.spark.sql.DataFrame) = d.write.format("noop").mode("overwrite").save()
val cases = Seq[(String, () => org.apache.spark.sql.DataFrame)](
  "lloyd_no_mean" -> (() => graft.dedup.SemanticDedup.lloydStep(df, "embedding", pivots).drop("__m")),
  "assign_mean" -> (() => graft.dedup.SemanticDedup.assignClusters(df, "embedding", pivots).groupBy("cluster").agg(graft.functions.VectorAggregates.vectorMean(col("embedding")))),
  "assign_avg_dims" -> (() => graft.dedup.SemanticDedup.assignClusters(df, "embedding", pivots).groupBy("cluster").agg(avg(element_at(col("embedding"), 1)))),
  "assign" -> (() => graft.dedup.SemanticDedup.assignClusters(df, "embedding", pivots)),
  "lloyd" -> (() => graft.dedup.SemanticDedup.lloydStep(df, "embedding", pivots)),
  "decon" -> (() => graft.dedup.SemanticDecon.flag(df, "vec_id", "embedding", bench, 0.3)))
for ((name, f) <- cases) {
  (1 to 3).foreach(_ => noop(f()))
  val samples = (1 to 7).map { _ =>
    Thread.sleep(400)
    cpu.set(0); val t0 = System.nanoTime(); noop(f())
    Thread.sleep(400)
    (cpu.get / 1e6, (System.nanoTime() - t0) / 1e6)
  }
  val cs = samples.map(_._1).sorted; val ws = samples.map(_._2).sorted
  println(f"[kb] $name cpu_ms median=${cs(3)}%.0f min=${cs(0)}%.0f max=${cs(6)}%.0f wall_ms median=${ws(3)}%.0f")
}
System.exit(0)
