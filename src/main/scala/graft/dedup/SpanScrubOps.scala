package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Duplicate-SPAN scrubbing (ExactSubstr-lite, Lee et al. 2022):
  * remove every token covered by a corpus-duplicated n-gram, with the
  * size-gated broadcast-bloom hash prefilter.
  */
private[dedup] trait SpanScrubOps extends Serializable { this: TextNormalization =>

  /** Duplicate-SPAN scrubbing — the token-granular half of
    * "Deduplicating Training Data Makes Language Models Better"
    * (Lee et al. 2022, ExactSubstr): instead of dropping whole
    * documents, remove every token covered by an n-gram that occurs
    * more than once in the corpus (boilerplate headers, license
    * blocks, templated sentences vanish from EVERY copy, including
    * the first). Returns (doc_id, clean_text, n_removed) — clean_text
    * is the surviving token stream (lowercased, single-spaced; the
    * same normalization every gram operator here uses), "" when a doc
    * is scrubbed entirely.
    *
    * 100 TB shape: gram counting is ONE map-side-combinable aggregate;
    * duplicated-gram membership is a semi-join on the gram string; and
    * the rebuild is a SPAN-MERGE — the duplicated-gram start positions
    * aggregate per document (a collect_set bounded by document length),
    * and one sorted walk over them inside a higher-order `aggregate`
    * merges overlapping [start, start+n-1] covers and splices the kept
    * slices out of the already-materialized token array. No per-
    * position explode, no (doc, pos) distinct, no token-stream
    * anti-join: the round-13 form shipped 8 exchange rows per covered
    * gram occurrence plus the full token stream twice, which is what
    * filled the sweep host's disk at sf100 — the span walk ships one
    * integer per duplicated-gram occurrence and nothing else. No
    * windows, no all-pairs: a boilerplate gram shared by 10^8
    * documents costs one reduced count row plus its own occurrences,
    * never a funnel. ExactSubstr proper uses a corpus suffix array to
    * catch arbitrary-length duplicates ≥ 50 tokens; fixed-n grams are
    * its bounded, join-expressible form — any duplicated span ≥ n
    * tokens is fully covered by its n-windows, shorter ones are
    * deliberately kept.
    *
    * `hashPrefilter` — the EXACT 64-bit prefilter on the gram count:
    * collisions can only INFLATE a hash count, so hash-count == 1
    * PROVES a gram unique and hash-count > 1 is an exact superset of
    * the duplicated grams. The dup-hash set then reaches the stream as
    * a broadcast BLOOM filter (~1.2 B/key at 1% fpp) and prunes
    * map-side, so the only string exchange left is the duplicated-ish
    * slice feeding the string-exact count (which eliminates bloom fpp
    * and hash collisions alike); past [[Dedup.ScrubBloomMaxKeys]] dup
    * hashes — a mostly-duplicated corpus — it degrades to the r14
    * semi-join. That trade WINS only when most grams are unique and
    * the stream is big — on a small corpus the extra hash-count pass
    * is pure overhead (it cost the graded row +65% at sf0.1 in round
    * 13) — so the default sizes it from a document count
    * ([[graft.tune.AdaptiveKnobs]] discipline): on above
    * [[Dedup.ScrubPrefilterMinDocs]] documents, off below. Output is
    * bit-identical on every route (spec-pinned).
    *
    * NOTE the default sizing runs `df.count()` EAGERLY at call time —
    * one extra evaluation of the upstream lineage, expensive when `df`
    * is a derived pipeline rather than a raw scan (ADVICE r14).
    * Callers that already know the corpus size (a capped graded slice,
    * a metadata count) should pass `docCountHint` to keep the call
    * fully lazy; an explicit `hashPrefilter` skips the sizing
    * entirely. When the prefilter IS on, this method is eager twice
    * more (ADVICE r15): the hash-count aggregate and the bloom build
    * run as Spark jobs AT CALL TIME (the filter must exist before the
    * returned plan can embed it), so composing a lazy pipeline around
    * this call still pays one tokenize+explode+hash pass up front even
    * if the result is never executed — and the ~1.2 B/key broadcast
    * bloom stays alive for the lifetime of the returned plan (it is
    * referenced from the plan's filter; `spark.cleaner` reclaims it
    * with the plan, or callers can drop the DataFrame early).
    */
  def scrubDuplicateSpans(
      df: DataFrame, idCol: String, textCol: String, n: Int = 8,
      hashPrefilter: Option[Boolean] = None,
      docCountHint: Option[Long] = None,
      bloomMaxKeys: Long = ScrubBloomMaxKeys): DataFrame = {
    require(n >= 2, s"n must be >= 2, got $n")
    val arrs = df.select(
      col(idCol).as("doc_id"),
      graft.text.Tokens.words(col(textCol)).as("a"))
    // fused-UDF gram generation (r19): the transform(sequence…) +
    // slice + concat_ws HOF chain this replaces runs interpreted and
    // profiled at ~80 µs/gram (19 s of q_scrub_spans' 22 s CPU at
    // sf0.1); strings and 1-based starts are bit-identical — see
    // TextNormalization.positionalGrams.
    //
    // NO size(a) >= n pre-filter (r20): positionalGrams returns an
    // empty array below n tokens and the non-outer explode drops those
    // rows, so the filter was semantically redundant — and actively
    // harmful: it was pushed below the caller's rebalance exchange,
    // re-tokenizing every document in the scan stage just to evaluate
    // it, AND it specialized this branch's exchange subtree so
    // ReuseExchange could not collapse it with the rebuild branch's
    // (three scan+exchange executions per query instead of one).
    val grams = arrs
      .select(col("doc_id"), explode(positionalGrams(col("a"), n)).as("sg"))
      .select(col("doc_id"), col("sg._1").as("start"), col("sg._2").as("g"))
    val usePrefilter =
      hashPrefilter.getOrElse(docCountHint.getOrElse(df.count()) > ScrubPrefilterMinDocs)
    val candidates =
      if (!usePrefilter) grams
      else {
        // The r14 form semi-JOINED the duplicated-hash set back into the
        // hashed gram stream — which re-EXCHANGES the full stream,
        // strings included, whenever the dup set outgrows broadcast. The
        // pinned sf100r A/B measured that route at +39% wall-clock,
        // +19% shuffle and +32% spill over no-prefilter (records/
        // probe_r15_scrub_volumes.log): the "8-byte keys" saving never
        // existed because the strings rode the join anyway. The bloom
        // form broadcasts the dup-hash set (~1.2 B/key at 1% fpp, the
        // bloomContainmentPairs pattern) and filters the stream
        // map-side, so the ONLY string exchange left is the duplicated-
        // ish slice feeding the exact count. False positives (bloom fpp
        // + xxhash64 collisions alike) are culled by that exact count —
        // output is bit-identical on every route (spec-pinned).
        // NOTE this route materializes the hash-count aggregate EAGERLY
        // at call time (a count + a bloom-build job) — the bloom must
        // exist before the plan can be constructed.
        val hashed = grams.withColumn("__h", xxhash64(col("g")))
        val dupHashes = hashed.groupBy("__h").agg(count(lit(1)).as("c"))
          .filter(col("c") > 1).select("__h")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val nDup = dupHashes.count()
        if (nDup == 0) { // nothing duplicated anywhere: scrub is a no-op
          dupHashes.unpersist(blocking = false)
          grams.limit(0)
        } else if (nDup <= bloomMaxKeys) {
          val bloom = dupHashes.stat.bloomFilter("__h", nDup, 0.01)
          dupHashes.unpersist(blocking = false)
          val bloomB = df.sparkSession.sparkContext.broadcast(bloom)
          // codegen'd probe (graft.functions.BloomMightContain): the
          // filter stays inside the gram stream's whole-stage-codegen
          // span and probes the primitive hash — the r15 boxed-UDF
          // form paid a java.lang.Long allocation + lambda frame per
          // gram (~10^10 at the fourth decade). Deterministic, so the
          // optimizer inlines xxhash64(g) straight into the filter
          // and __h never materializes as a column.
          hashed.filter(
            graft.functions.BloomExpressions.mightContain(col("__h"), bloomB)).drop("__h")
        } else {
          // degenerate corpus (most grams duplicated): a bloom this
          // size would strain broadcast, and pruning buys little when
          // the "slice" is ~the stream — fall back to the semi-join.
          // The cached dupHashes is NOT handed to the lazy plan:
          // CacheManager pins persisted frames for the session
          // lifetime (ContextCleaner never reclaims reachable cache
          // entries), so repeated degenerate calls would accumulate
          // multi-GB pins. Unpersist the sizing cache and let the
          // join recompute the hash aggregate at execution — one
          // extra pass, paid only on the route whose corpus is
          // pathological anyway.
          dupHashes.unpersist(blocking = false)
          val dupHashesLazy = hashed.groupBy("__h").agg(count(lit(1)).as("c"))
            .filter(col("c") > 1).select("__h")
          hashed.join(dupHashesLazy, Seq("__h"), "left_semi").drop("__h")
        }
      }
    // The filter is vacuously TRUE for every row — pmod(x, 1) is 0 for
    // any x, coalesce guards a null doc_id — and exists only to keep
    // doc_id REFERENCED in this branch (the pmod(x,1) idiom the
    // quantile bucket spec also relies on: no optimizer rule folds it,
    // and constraint propagation cannot prove it). Without it, column
    // pruning specializes this branch's subtree below the input
    // exchange to text-only, the exchange stops being canonically
    // equal to the start-aggregation and rebuild branches', and
    // exchange reuse cannot fire — the scan + rebalance of the full
    // corpus text executed THREE times per query instead of once
    // (r20; the same pruning-defeats-reuse class as the LM-scorer
    // head broadcast). Plainer pins die in the optimizer: an extra
    // max(...) agg column is removed as unreferenced, and
    // count(coalesce(doc_id + start, 0)) folds to count(1) via
    // NullPropagation. If a future optimizer folds this one too, the
    // cost is an extra exchange execution, never a semantic change.
    val dupGrams = candidates
      .filter(coalesce(pmod(col("doc_id"), lit(1L)), lit(0L)) === 0)
      .groupBy("g").agg(count(lit(1)).as("c"))
      .filter(col("c") > 1).select("g")
    // per-doc sorted duplicated-gram starts; each covers [st, st+n-1]
    val dupStarts = candidates
      .join(dupGrams, Seq("g"), "left_semi")
      .groupBy("doc_id")
      .agg(sort_array(collect_set(col("start"))).as("ss"))
    // one walk over the sorted starts: pe = end of the merged cover so
    // far (starts ascending ⇒ st+n-1 is monotone, so pe just advances);
    // the kept tokens are the slices strictly between consecutive
    // merged spans plus the tail after the last one
    val kept = aggregate(
      col("ss"),
      struct(lit(0).as("pe"), slice(col("a"), lit(1), lit(0)).as("kept")),
      (acc, st) => struct(
        (st + (n - 1)).as("pe"),
        when(st > acc("pe") + 1,
          concat(acc("kept"), slice(col("a"), acc("pe") + 1, st - acc("pe") - 1)))
          .otherwise(acc("kept")).as("kept")),
      acc => concat(acc("kept"),
        slice(col("a"), acc("pe") + 1, greatest(size(col("a")) - acc("pe"), lit(0)))))
    arrs
      .join(dupStarts, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        when(col("ss").isNull, col("a")).otherwise(kept).as("__k"),
        size(col("a")).cast("long").as("__nt"))
      .select(
        col("doc_id"),
        concat_ws(" ", col("__k")).as("clean_text"),
        (col("__nt") - size(col("__k")).cast("long")).as("n_removed"))
  }

  /** Document count above which [[scrubDuplicateSpans]] turns its hash
    * prefilter on by default: below it the gram exchange is small
    * enough that the extra hash-count pass costs more than the string
    * bytes it saves (measured +65% on the 5k-doc graded row, round
    * 13); above it the broadcast-bloom prune is what keeps the string
    * exchange down to the duplicated slice at the 10^8-document
    * decades (the r15 sf100r A/B — records/probe_r15_scrub_volumes
    * .log — is the measured crossover evidence).
    */
  val ScrubPrefilterMinDocs: Long = 1L << 20

  /** Duplicated-hash-set size above which [[scrubDuplicateSpans]]'s
    * prefilter abandons the broadcast bloom for a semi-join: 2^26 keys
    * ≈ 80 MB of bloom at 1% fpp, the upper edge of comfortable
    * per-executor broadcast. A dup set that large means the corpus is
    * mostly-duplicated (the maximal-density ScaleUp fixture, not a
    * real crawl), where pruning cannot shrink the stream much anyway.
    */
  val ScrubBloomMaxKeys: Long = 1L << 26
}
