package graft.queries

import java.nio.file.Files

import graft.SparkTestBase
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.ParquetFileWriter
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.LogicalTypeAnnotation
import org.apache.parquet.schema.LogicalTypeAnnotation.TimeUnit
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.parquet.schema.Types
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** The event-time family must survive every physical `ts` encoding the
  * corpus has ever shipped as (VERDICT r9 #1 — the driver regenerated
  * events.parquet from TIMESTAMP(NANOS) to timestamp[us] after the r9
  * snapshot and all four event-time queries failed analysis):
  *
  *   - `us`:    timestamp[us], isAdjustedToUTC=false → Spark TIMESTAMP_NTZ
  *              (the current driver-generated testdata; pyarrow default)
  *   - `ns`:    TIMESTAMP(NANOS) → Spark long-nanos under nanosAsLong
  *              (the original driver testdata; fix_scaleup_events.py output)
  *   - `int64`: plain INT64 nanoseconds, no logical type → Spark LongType
  *              (raw graft.tools.ScaleUp output)
  *   - `hybrid`: TIMESTAMP(NANOS) data under STALE embedded Spark
  *              row-metadata claiming timestamp_ntz — what
  *              fix_scaleup_events.py produced before round 10 when
  *              pyarrow preserved the ScaleUp writer's catalyst schema
  *              through the nanos rewrite. Spark trusts the embedded
  *              metadata at analysis, then every scan fails with
  *              PARQUET_COLUMN_DATA_TYPE_MISMATCH — unless the reader
  *              branches on the parquet FOOTER, as eventsMicros does.
  *
  * One fixture table is written in all four encodings and every query
  * in the family must return identical rows over each, plus
  * hand-derived facts so "identical" can't mean identically wrong.
  */
class EventTimeEncodingSpec extends SparkTestBase {

  // 2024-01-01T00:00:00Z in epoch micros
  private val Base = 1704067200000000L
  private val Min = 60L * 1000000
  private val Hour = 60 * Min

  /** (event_id, ts_us, user_id, event_type, value) — deliberately
    * non-millisecond-aligned micros; values are exact binary fractions
    * so sums are bit-identical regardless of partition merge order.
    */
  private val rows: Seq[(Long, Long, Long, String, Double)] = {
    val perUser = for {
      u <- 1L to 4L
      (off, kind, k) <- Seq(
        // session 1: three events inside 30 min, in two different hours
        (50 * Min + 123456L, "click", 0),
        (58 * Min + 1L, "view", 1),
        (75 * Min + 999999L, "purchase", 2),
        // >30 min gap -> session 2
        (120 * Min + 7L, "click", 3),
        (130 * Min, "purchase", 4),
        (140 * Min + 500000L, "error", 5),
        // >30 min gap -> session 3, third hour band
        (200 * Min + 42L, "purchase", 6)
      )
    } yield (u * 100 + k, Base + u * Min + off, u, kind, (u * 7 + k) * 0.25)
    // one user above the interval-join window cutoff (user_id >= 20),
    // and a purchase with no prior click (asof must emit nulls)
    perUser ++ Seq(
      (2500L, Base + 10 * Min, 25L, "purchase", 0.25),
      (2501L, Base + 55 * Min + 17L, 25L, "click", 0.5),
      (2502L, Base + 3 * Hour + Min, 25L, "purchase", 0.75)
    )
  }

  /** Writes the fixture in the given encoding; returns a dir holding
    * exactly `events.parquet` the way CatalogSupport reads it.
    */
  private def writeFixture(enc: String): String = {
    val dir = Files.createTempDirectory(s"graft-events-$enc").toString
    import spark.implicits._
    val df = rows.toDF("event_id", "ts", "user_id", "event_type", "value")
    enc match {
      case "us" =>
        // TIMESTAMP_NTZ writes as timestamp[us] isAdjustedToUTC=false,
        // byte-identical to the pyarrow-generated driver testdata.
        // Session TZ is UTC (SparkTestBase) so the LTZ->NTZ cast is
        // verbatim micros.
        df.withColumn("ts", timestamp_micros(col("ts")).cast("timestamp_ntz"))
          .repartition(1).write.parquet(s"$dir/events.parquet")
      case "int64" =>
        df.withColumn("ts", col("ts") * 1000)
          .repartition(1).write.parquet(s"$dir/events.parquet")
      case "ns" | "hybrid" =>
        // Spark cannot write TIMESTAMP(NANOS); drive parquet-mr directly
        val schema = Types.buildMessage()
          .addField(Types.optional(PrimitiveTypeName.INT64).named("event_id"))
          .addField(Types.optional(PrimitiveTypeName.INT64)
            .as(LogicalTypeAnnotation.timestampType(false, TimeUnit.NANOS)).named("ts"))
          .addField(Types.optional(PrimitiveTypeName.INT64).named("user_id"))
          .addField(Types.optional(PrimitiveTypeName.BINARY)
            .as(LogicalTypeAnnotation.stringType()).named("event_type"))
          .addField(Types.optional(PrimitiveTypeName.DOUBLE).named("value"))
          .named("events")
        // the hybrid case plants the poison: embedded catalyst metadata
        // whose ts type (timestamp_ntz) contradicts the NANOS annotation
        val extra: java.util.Map[String, String] =
          if (enc == "hybrid") {
            import org.apache.spark.sql.types._
            val staleCatalyst = StructType(Seq(
              StructField("event_id", LongType),
              StructField("ts", TimestampNTZType),
              StructField("user_id", LongType),
              StructField("event_type", StringType),
              StructField("value", DoubleType))).json
            java.util.Collections.singletonMap(
              "org.apache.spark.sql.parquet.row.metadata", staleCatalyst)
          } else java.util.Collections.emptyMap()
        val writer = ExampleParquetWriter
          .builder(new Path(s"$dir/events.parquet"))
          .withType(schema)
          .withConf(new Configuration())
          .withWriteMode(ParquetFileWriter.Mode.OVERWRITE)
          .withExtraMetaData(extra)
          .build()
        val fac = new SimpleGroupFactory(schema)
        try rows.foreach { case (id, us, uid, kind, v) =>
          val g = fac.newGroup()
          g.add("event_id", id)
          g.add("ts", us * 1000)
          g.add("user_id", uid)
          g.add("event_type", kind)
          g.add("value", v)
          writer.write(g)
        } finally writer.close()
    }
    dir
  }

  private lazy val dirs: Map[String, String] =
    Seq("us", "ns", "int64", "hybrid").map(e => e -> writeFixture(e)).toMap

  private def sorted(df: DataFrame): Seq[Row] =
    df.collect().toSeq.sortBy(_.mkString("\u0000"))

  private val family: Seq[(String, QueryCatalog.Q)] = Seq(
    "q_events_hourly" -> RelationalRows.qEventsHourly,
    "q_sessionize" -> RelationalRows.qSessionize,
    "q_asof_join" -> RelationalRows.qAsofJoin,
    "q_interval_join" -> RelationalRows.qIntervalJoin
  )

  test("all four event-time queries return identical rows over all four ts encodings") {
    for ((name, q) <- family) {
      val byEnc = dirs.map { case (enc, d) => enc -> sorted(q(spark, d)) }
      val ref = byEnc("us")
      assert(ref.nonEmpty, s"$name returned no rows on the us fixture")
      for (enc <- Seq("ns", "int64", "hybrid"))
        assert(byEnc(enc) == ref, s"$name: $enc encoding diverged from us")
    }
  }

  test("hourly buckets carry every event exactly once, at true epoch hours") {
    val hourly = RelationalRows.qEventsHourly(spark, dirs("us")).collect()
    assert(hourly.map(_.getAs[Long]("n_events")).sum == rows.size)
    // buckets are whole UTC hours within the fixture's span
    val hours = hourly.map(_.getAs[Long]("hour_epoch"))
    assert(hours.forall(h => h % 3600 == 0 && h >= Base / 1000000 && h < Base / 1000000 + 5 * 3600))
  }

  test("sessionize splits on the >30-min gaps the fixture plants") {
    val sess = RelationalRows.qSessionize(spark, dirs("us"))
      .filter(col("user_id") === 1).collect().sortBy(_.getAs[Long]("session_id"))
    assert(sess.map(_.getAs[Long]("session_id")).toSeq == Seq(1L, 2L, 3L))
    assert(sess.map(_.getAs[Long]("n_events")).toSeq == Seq(3L, 3L, 1L))
    // session 1 spans click..purchase of the first burst, in micros
    assert(sess.head.getAs[Long]("session_start") == Base + 1 * Min + 50 * Min + 123456L)
    assert(sess.head.getAs[Long]("session_end") == Base + 1 * Min + 75 * Min + 999999L)
  }

  test("asof join picks the latest click at-or-before each purchase, null when none") {
    val asof = RelationalRows.qAsofJoin(spark, dirs("us")).collect()
      .map(r => r.getAs[Long]("event_id") -> r).toMap
    // user 1, purchase at +75:59.999999 -> click at +50:00.123456 (not the later one)
    assert(asof(102L).getAs[Long]("asof_click_ts") == Base + 1 * Min + 50 * Min + 123456L)
    // user 1, purchase at +120..130 band -> the session-2 click
    assert(asof(104L).getAs[Long]("asof_click_ts") == Base + 1 * Min + 120 * Min + 7L)
    // user 25's first purchase precedes its only click -> null
    assert(asof(2500L).isNullAt(asof(2500L).fieldIndex("asof_click_ts")))
    assert(asof(2502L).getAs[Long]("asof_click_ts") == Base + 55 * Min + 17L)
  }

  test("a session without nanosAsLong recovers on a TIMESTAMP(NANOS) footer") {
    // fresh session state: the flag off, as in a driver-spawned session
    val ns: SparkSession = spark.newSession()
    ns.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
    val out = sorted(RelationalRows.qAsofJoin(ns, dirs("ns")))
    assert(out == sorted(RelationalRows.qAsofJoin(spark, dirs("us"))))
    assert(ns.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
  }

  test("NTZ micros normalize TZ-independently (no session-offset shift)") {
    val seoul: SparkSession = spark.newSession()
    seoul.conf.set("spark.sql.session.timeZone", "Asia/Kolkata") // non-whole-hour offset
    val out = sorted(RelationalRows.qSessionize(seoul, dirs("us")))
    assert(out == sorted(RelationalRows.qSessionize(spark, dirs("us"))))
  }
}
