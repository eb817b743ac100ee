package graft.queries

import org.scalatest.funsuite.AnyFunSuite

/** Rounding-site audit (VERDICT r16 #5): every `round(` in the main
  * sources must belong to a CLASSIFIED midpoint-safety bucket, and a
  * new rounding site fails this spec until it is classified.
  *
  * Why this is load-bearing: the r16 sf10r sweep caught q_repetition
  * grading WRONG because an integer ratio (top-3-gram fraction) was
  * rounded through the double path — Spark's round() (BigDecimal
  * HALF_UP over the double's exact decimal expansion) and DuckDB's
  * round() (scale-multiply on the double) land on opposite sides of a
  * .5·10⁻ᵈᵖ midpoint whenever the TRUE value is such a midpoint but
  * the double representing it is not exact. r16 closed the class for
  * the 6-dp ratio rows; r17 closed it for every remaining
  * integer-ratio site (jaccards, recalls, percentages, integer
  * averages, channel/sample means, TF-IDF scores, 4-dp-exact revenue
  * sums, interpolated cent percentiles) by rounding in exact integer
  * arithmetic on both engines. What may still legitimately use
  * `round(` is exactly the buckets below — each with the argument for
  * why the two engines cannot disagree (or why residual risk is
  * documented headroom, the round(9) vector-mean precedent).
  *
  * The audit is a source scan, deliberately: the property is about
  * SOURCE IDIOMS (which rounding path a graded projection uses), and
  * line-level classification keeps every site reviewable in one
  * place. Comment lines are excluded; multi-site lines classify if
  * any pattern matches (the buckets are mutually consistent — a line
  * matching two buckets is classified, not ambiguous).
  */
class RoundingAuditSpec extends AnyFunSuite {

  /** (bucket name, why it is safe, (line pattern, expected site count)).
    *
    * The counts are EXACT pins (ADVICE r17): several patterns are
    * broad substrings (`* 100)`, `stddev_pop`, `list_dot_product`),
    * so without a pin a future UNSAFE site that merely co-occurs on a
    * line with a safe idiom would be silently classified. With the
    * pin, any new line a pattern matches — safe or not — fails the
    * spec until a human re-counts it into the bucket; a count of zero
    * is the staleness failure (pattern outlived its site).
    */
  private val buckets: Seq[(String, String, Seq[(String, Int)])] = Seq(
    (
      "scale-to-integer",
      "rounding identical doubles to an INTEGER is rule-independent: " +
        "no decimal-scale multiply is involved (BigDecimal HALF_UP and " +
        "C-style half-away both act on the double's exact value and " +
        "agree on exact .5), and both engines compute the operand with " +
        "the same IEEE ops — the q1 cents idiom, SQ8/sum_cos4 " +
        "quantizations, the cent-percentile interpolation, and the " +
        "per-term revenue scaling",
      Seq(
        raw"\* 100\)" -> 6,            // round(<money> * 100) → cents
        // the Column form of the same: qApproxQuantile's cents column
        raw"\* lit\(100\)\)" -> 1,
        raw"\* 10000\)" -> 5,          // quantizations to 1e-4 units
        raw"\* 10000, 0\)" -> 1,
        raw"\* lit\(10000\)\)" -> 1,   // the Column form (q3 revenue terms)
        raw"math\.round\(" -> 2,       // driver-side integer rounding
        raw"round\(quantile_cont\(CAST\(round\(" -> 2 // integer cents percentile
      )
    ),
    (
      "money-2dp",
      "operand is a cents-exact decimal or a group-bounded sum of " +
        "them: the TRUE value is never a half-cent, so no decimal " +
        "midpoint exists to disagree on, and FP noise (|sum|·n·eps) " +
        "stays orders of magnitude under the 0.005 midpoint distance " +
        "at graded group sizes — corpus-scale totals use " +
        "scale-to-integer instead (q1Agg's documented idiom)",
      Seq(
        raw"round\(sum\(col\(.value.\)\), 2\)" -> 2,
        raw"round\(sum\(value\), 2\)" -> 3,
        raw"round\(sum\(col\(.s_acctbal.\)\), 2\)" -> 1,
        raw"round\(sum\(s_acctbal\), 2\)" -> 1,
        raw"round\(col\(.o_totalprice.\), 2\)" -> 1,
        raw"round\(o_totalprice, 2\)" -> 1,
        raw"round\(col\(.sum_value.\), 2\)" -> 1
      )
    ),
    (
      "dyadic-exact",
      "the value is a dyadic rational (k/2^m) whose 10^dp scaling is " +
        "also exactly representable, so BOTH engines see the true " +
        "value — including true midpoints — and HALF_UP agrees with " +
        "half-away on positives: minhash agreement fractions (k/32), " +
        "medians of integer columns (k or k.5)",
      Seq(
        raw"round\(col\(.est_jaccard.\), 4\)" -> 1,
        raw"round\(median\((chars|tokens)\), 4\)" -> 2,
        raw"round\(expr\(s.percentile\(." -> 2
      )
    ),
    (
      "irrational-headroom",
      "the operand is not a small-denominator rational (dot products " +
        "over float components, stddevs, log-probabilities, BM25/MMR " +
        "compositions), so the TRUE value cannot sit on a decimal " +
        "midpoint; both engines compute bit-identical operand doubles " +
        "(mirrored left-to-right folds — the dot_product contract), " +
        "so divergence would need that shared double to land within " +
        "~1 ulp of a midpoint after scaling (~1e-11/value), and every " +
        "such row is fixture-verified across four decades — the " +
        "round(9) vector-mean precedent documented in r13",
      Seq(
        // the one vector-search score (VectorSearch.graded): every
        // rounded cosine in the tree is this line
        raw"round\(score, ScoreDigits\)" -> 1,
        raw"list_dot_product" -> 13,
        raw"round\(dot_product" -> 1,
        raw"stddev_pop" -> 5,
        raw"coefficientOfVariation" -> 1,
        raw"round\(avg\(-ln" -> 2,             // LM bits-per-token
        raw"round\(avg\(col\(.bits.\)\), 6\)" -> 2,
        raw"round\(avg\(CAST\(embedding" -> 2, // 9-dp vector means
        raw"round\(avg\(v\[1\], 9\)|round\(avg\(v\[1\]\), 9\)" -> 1,
        raw"round\(avg\(cos\), 9\)" -> 1,
        raw"round\(col\(.__mc.\), 9\)" -> 1,
        raw"round\(element_at\(col\(.(__)?m.\), \d+\), 9\)" -> 4,
        raw"round\(mmr, 6\)" -> 1,
        raw"round\(s, [46]\)" -> 4,            // BM25 / hybrid keyword scores
        raw"round\(raw, 4\)" -> 1,
        raw"round\(cos, 4\)" -> 1,
        // the q_search_facade / q_hard_negatives projections of the same grid
        raw"round\(col\(.score.\), VectorSearch\.ScoreDigits\)" -> 2,
        raw"round\(col\(.cosine.\), 4\)" -> 2,
        raw"round\(score, Bm25Digits\)" -> 1
      )
    ),
    (
      "midpoint-free-rational",
      "RRF = 1/(60+r1) + 1/(60+r2): the reduced denominator divides " +
        "lcm of values in [61,80] whose 2-adic power is at most 2^6, " +
        "while a 7-digit terminating decimal ending in 5 (a 6-dp " +
        "midpoint) requires 2^7 — provably no true midpoint exists",
      Seq(raw"\(60 \+ rank_" -> 1, raw"round\(rrf, RrfDigits\)" -> 1)
    ),
    (
      "driver-side-halfup-mirror",
      "Rerank's MMR loop runs on collected k-row candidates and " +
        "rounds intermediate cosines with the SAME BigDecimal-HALF_UP " +
        "Spark's round() uses, so the driver-side path and a Column " +
        "replay are rule-identical by construction; the operands are " +
        "cosines (irrational-headroom for the oracle side)",
      Seq(raw"setScale\(digits, BigDecimal\.RoundingMode\.HALF_UP\)" -> 1)
    ),
    (
      "non-graded-output",
      "rounding for human/JSON display only — never compared to an " +
        "oracle: Bench telemetry fields",
      Seq(raw"def r4\(d: Double\) = math\.rint\(" -> 1)
    )
  )

  private def mainSources(): Seq[java.io.File] = {
    val root = new java.io.File("src/main/scala/graft")
    assert(root.isDirectory,
      s"audit must run from the repo root (cwd=${new java.io.File(".").getCanonicalPath})")
    def walk(d: java.io.File): Seq[java.io.File] =
      d.listFiles.toSeq.flatMap(f => if (f.isDirectory) walk(f) else Seq(f))
    walk(root).filter(_.getName.endsWith(".scala"))
  }

  test("every round( site in src/main is classified in a midpoint-safety bucket") {
    val sites = for {
      f <- mainSources()
      (line, i) <- java.nio.file.Files.readAllLines(f.toPath).toArray
        .map(_.toString).zipWithIndex
      t = line.trim
      // round( is the Column/SQL idiom; setScale/rint are the other
      // two rounding idioms in the tree (driver-side BigDecimal,
      // display formatting) — a site must not escape the audit by
      // switching idiom
      if (t.contains("round(") || t.contains("setScale(") || t.contains("math.rint(")) &&
        !t.startsWith("//") && !t.startsWith("*") && !t.startsWith("/*") &&
        !t.startsWith("--")
    } yield (s"${f.getPath}:${i + 1}", t)

    assert(sites.nonEmpty, "the scan found no rounding sites — scan broke, not the code")

    val compiled = buckets.map { case (name, why, ps) =>
      (name, why, ps.map { case (p, n) => (p, p.r, n) })
    }
    val unclassified = sites.filterNot { case (_, t) =>
      compiled.exists(_._3.exists(_._2.findFirstIn(t).isDefined))
    }
    assert(
      unclassified.isEmpty,
      "UNCLASSIFIED rounding sites — a new round( must either use the " +
        "exact-integer idiom (ratio6Col / ratioCol / bigint-div mirror) " +
        "or be added to a bucket here WITH its midpoint-safety argument:\n" +
        unclassified.map { case (at, t) => s"  $at  $t" }.mkString("\n")
    )

    // exact-count pin (ADVICE r17): a pattern matching MORE sites than
    // pinned means a new line co-matched a broad substring and was
    // silently classified — the new site must be reviewed and the pin
    // consciously bumped; matching FEWER (incl. zero) means the pattern
    // outlived its site and must be re-pinned or deleted with it
    val drifted = for {
      (name, _, ps) <- compiled
      (p, r, expected) <- ps
      actual = sites.count { case (_, t) => r.findFirstIn(t).isDefined }
      if actual != expected
    } yield s"$name: $p expected $expected sites, found $actual"
    assert(
      drifted.isEmpty,
      s"bucket pattern counts drifted — review the changed lines, then " +
        s"re-pin:\n  ${drifted.mkString("\n  ")}")

    info(s"${sites.size} rounding sites across ${mainSources().size} files, all classified:")
    compiled.foreach { case (name, _, ps) =>
      val n = sites.count { case (_, t) => ps.exists(_._2.findFirstIn(t).isDefined) }
      info(f"  $name%-24s $n%3d sites")
    }
  }
}
