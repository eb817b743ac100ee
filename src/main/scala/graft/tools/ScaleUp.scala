package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale-factor multiplier for the bench corpus (VERDICT r3 #8: turn
  * the "survives 100×" plan arguments into a measured data point).
  * Replicates every sf0.1 table `rep` times with disjoint key spaces so
  * the result behaves like a genuinely larger corpus, not `rep` copies
  * of the same one:
  *
  *  - join keys (cust/order/part/supp, event user/id, doc/vec ids) are
  *    offset by `replica · 10^7` per replica — join fan-out and
  *    group-by cardinalities scale linearly, exactly like real growth;
  *  - document TOKENS get a per-replica suffix (`_rN`), making replica
  *    vocabularies disjoint: near-dup pair counts, line-dedup
  *    survivors and TF-IDF vocab scale LINEARLY (bare replication
  *    would make every doc a 10-way exact dup and near-dup outputs
  *    quadratic — a different, degenerate workload);
  *  - embeddings are perturbed with a deterministic hash-derived
  *    epsilon per (vec_id, replica, component), so replicas are not
  *    exact clones of the original vectors (top-k would otherwise fill
  *    with ties);
  *  - events keep their timestamps (same window, 10× the users — the
  *    realistic shape for a fixed collection period); `ts` passes
  *    through in whatever encoding the source carries (timestamp[us]
  *    NTZ for driver testdata, long nanos when chaining from a
  *    fix_scaleup_events output — CatalogSupport.eventsMicros handles
  *    both), and tools/fix_scaleup_events.py rewrites the result to
  *    timestamp[ns] so DuckDB binds a timestamp for the oracles.
  *
  * Usage: runMain graft.tools.ScaleUp <srcSfDir> <outDir> <replicas>
  *          [keyStride] [fileScale] [dupRatePct] [tablesCsv]
  *
  * `keyStride` (default [[DefaultKeyStride]] = 10^7) must exceed the
  * source's max key. When CHAINING scale-ups (sf0.1 → sf1 → sf10) pass
  * a larger stride for the second hop — sf1 ids already occupy
  * [0, 9·10^7 + max), so the default stride would collide replica key
  * ranges; 10^9 keeps them disjoint. Token suffixes compose per hop
  * ("vector" → "vectorqb" → "vectorqbqc"), so chained replica
  * vocabularies stay disjoint too.
  *
  * `dupRatePct` (default 100 = the historical fixture, bit-identical)
  * is the REALISTIC-DUPLICATION knob (VERDICT r14 #1). The plain
  * fixture is maximal-duplication by construction: within one replica
  * family ~every 8-gram is shared across documents (the source corpus
  * is built from a small shared vocabulary), so density-sensitive
  * operators measured on it measure the FIXTURE — the uncapped sf100
  * duplicate-span scrub aborted at >29 GB shuffle spill because the
  * "duplicated-ish" slice was ~the whole gram stream, and the hash
  * prefilter's win regime (mostly-unique grams, the real-corpus case
  * per Lee et al. 2022) was never exercised at scale. With
  * dupRatePct < 100, only that percentage of OUTPUT documents (chosen
  * by a deterministic hash of the final doc_id) keep their shared
  * grams; every other document gets a per-document token salt — a
  * letters-only base-26 code of xxhash64(doc_id) mod 26^6 appended to
  * every token (the same inert-through-the-cleaning-battery trick as
  * the per-replica suffix) — so its grams collide with no other
  * document's and the corpus is mostly-unique like a real crawl.
  * Within-document repetition is PRESERVED (the salt is constant
  * inside a doc), which is exactly ExactSubstr's semantics. The same
  * knob re-perturbs the non-kept embeddings with a ±0.5 component
  * noise (vs the kept ±0.025, replica-0 untouched), so only the kept
  * fraction forms near-dup cliques in vector space too. The salted
  * corpora are ENGINE-SIDE fixtures (SCALE.md decade probes); the
  * oracle-graded rows stay on the plain fixture.
  *
  * `tablesCsv` (default: every table) restricts output — the
  * realistic-fixture probes only need documents + embeddings, and the
  * sweep host's disk is the binding constraint.
  */
object ScaleUp {

  /** Default per-replica key offset; graded-slice caps
    * (CatalogRow.Caps.Replica0Cap) must stay far below it so replica-0
    * filters select the same fixed-density slice at every decade.
    */
  val DefaultKeyStride: Long = 10_000_000L

  def main(args: Array[String]): Unit = {
    val src = args(0)
    val out = args(1)
    val rep = args(2).toInt
    val Stride = if (args.length > 3) args(3).toLong else DefaultKeyStride
    // Output-file multiplier: the per-table file counts below are sized
    // for the sf0.1→sf1 hop; a deeper hop (sf10→sf100 writes ~20 GB)
    // with the same counts would emit >1 GB files from 16 write tasks.
    // Scaling the counts keeps files in the healthy 100–200 MB band and
    // the write as parallel as the corpus is large.
    val fileScale = if (args.length > 4) args(4).toInt else 1
    val dupPct = if (args.length > 5) args(5).toInt else 100
    require(dupPct >= 1 && dupPct <= 100, s"dupRatePct $dupPct outside [1, 100]")
    val allTables = Seq("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "events", "documents", "embeddings")
    val tables: Set[String] =
      if (args.length > 6) {
        val t = args(6).split(",").map(_.trim).filter(_.nonEmpty).toSet
        val unknown = t.diff(allTables.toSet)
        require(unknown.isEmpty, s"unknown tables: $unknown")
        t
      } else allTables.toSet
    require(rep <= 26, "suffix alphabet covers at most 26 replicas")
    val spark = graft.Sessions.start("graft-scaleup")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")

    def read(name: String) = spark.read.parquet(s"$src/$name.parquet")
    def write(df: => DataFrame, name: String, files: Int): Unit =
      if (tables(name))
        df.repartition(files * fileScale).write.mode("overwrite").parquet(s"$out/$name.parquet")

    // replica index joined in as a tiny broadcast range — one scan of
    // the source per table, `rep` output rows per input row
    val reps = spark.range(rep).toDF("__rep")
    def blow(df: DataFrame): DataFrame = df.crossJoin(broadcast(reps))
    def off(c: String) = col(c) + col("__rep") * Stride

    // fixed dims: copy untouched (joins against them stay broadcastable)
    write(read("region"), "region", 1)
    write(read("nation"), "nation", 1)

    write(
      blow(read("customer")).withColumn("c_custkey", off("c_custkey")).drop("__rep"),
      "customer", 4)
    write(
      blow(read("supplier")).withColumn("s_suppkey", off("s_suppkey")).drop("__rep"),
      "supplier", 1)
    write(
      blow(read("part")).withColumn("p_partkey", off("p_partkey")).drop("__rep"),
      "part", 4)
    write(
      blow(read("orders"))
        .withColumn("o_orderkey", off("o_orderkey"))
        .withColumn("o_custkey", off("o_custkey"))
        .drop("__rep"),
      "orders", 8)
    write(
      blow(read("lineitem"))
        .withColumn("l_orderkey", off("l_orderkey"))
        .withColumn("l_partkey", off("l_partkey"))
        .withColumn("l_suppkey", off("l_suppkey"))
        .drop("__rep"),
      "lineitem", 16)
    write(
      blow(read("events"))
        .withColumn("event_id", off("event_id"))
        .withColumn("user_id", off("user_id"))
        .drop("__rep"),
      "events", 8)
    // dupRatePct keep decision: a deterministic hash of the FINAL
    // (offset) key, so each replica copy decides independently and the
    // kept fraction is dupPct/100 of the OUTPUT corpus at any depth
    def kept(idCol: String) = pmod(xxhash64(col(idCol), lit("dupkeep")), lit(100)) < dupPct
    // Per-document token salt: letters-only base-26 of
    // xxhash64(doc_id) mod 26^6 (~3·10^8 codes — expected same-salt
    // doc pairs are ~n²/(2·26^6), and a collision only matters if the
    // pair ALSO shares a vocabulary path, so spurious survivors are
    // O(10) at 5M docs). conv() emits 0-9A-P; translate maps them to
    // inert lowercase letters, the per-replica-suffix lesson.
    val docSalt = translate(
      conv(pmod(xxhash64(col("doc_id"), lit("dupsalt")), lit(308915776L)).cast("string"), 10, 26),
      "0123456789ABCDEFGHIJKLMNOP", "abcdefghijklmnopqrstuvwxyz")
    write(
      {
        val replicated = blow(read("documents"))
          .withColumn("doc_id", off("doc_id"))
          .withColumn(
            "text",
            // Letters-only lowercase suffix ("vector" -> "vectorqb" in
            // replica 1): keeps replica vocabularies disjoint while
            // staying INERT through the cleaning battery. The earlier
            // "_rN" scheme was not: C2 spaces the underscore out and the
            // C3 letter-digit stage then eats the bare "rN" token, so
            // clean-path oracles (whose RE2 chain cannot express C3's
            // Hangul lookarounds) diverged from Spark at sf1.
            when(col("__rep") === 0, col("text"))
              .otherwise(regexp_replace(
                col("text"),
                lit("(\\S+)"),
                concat(lit("$1q"), expr("substr('abcdefghijklmnopqrstuvwxyz', cast(__rep AS INT) + 1, 1)")))))
        val salted =
          if (dupPct >= 100) replicated
          else replicated.withColumn(
            "text",
            when(kept("doc_id"), col("text"))
              .otherwise(regexp_replace(col("text"), lit("(\\S+)"), concat(lit("$1z"), docSalt))))
        salted
          .withColumn("n_chars", length(col("text")).cast("long"))
          .drop("__rep")
      },
      "documents", 8)
    write(
      {
        def perturbed(scale: Double) = transform(
          col("embedding"),
          (x, i) =>
            (x + (pmod(xxhash64(col("vec_id"), col("__rep"), i), lit(1000)).cast("double") / 1000.0 - 0.5) * scale)
              .cast("float"))
        val keptEmb = when(col("__rep") === 0, col("embedding")).otherwise(perturbed(0.05))
        // non-kept vectors get noise an order of magnitude past the
        // near-dup band — applied to replica 0 too, so ONLY the kept
        // fraction forms cross-replica near-dup cliques
        val embExpr =
          if (dupPct >= 100) keptEmb
          else when(kept("vec_id"), keptEmb).otherwise(perturbed(1.0))
        blow(read("embeddings"))
          .withColumn("vec_id", off("vec_id"))
          .withColumn("embedding", embExpr)
          .drop("__rep")
      },
      "embeddings", 2)

    println(s"[scaleup] wrote ${rep}x of $src to $out")
    spark.stop()
  }
}
