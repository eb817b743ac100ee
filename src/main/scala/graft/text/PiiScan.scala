package graft.text

import java.util.regex.{Matcher, Pattern}

/** Candidate-gated execution of the [[PiiScrub.Stages]] chain — same
  * matches, same replacements, same output, ~an order of magnitude
  * fewer regex attempts.
  *
  * Why: every stage pattern opens with a guard alternation
  * (`(^|[^0-9])…`) that java.util.regex cannot derive a start-set
  * from, so `replaceAll` attempts the full NFA at almost every input
  * position — measured ~59 ns/char on the bench corpus (BASELINE.md
  * round-12 addendum), and the attempt loop is also where the
  * concurrency ceiling lives. But a successful match constrains its
  * first characters hard:
  *
  *  - email: contains '@' with ≥1 atom char before it — candidates are
  *    enumerable by `indexOf('@')`;
  *  - card:  first post-guard char is a digit;
  *  - phone: first post-guard char is a digit, '+' or '(';
  *  - ip:    first post-guard char is a digit (guard also excludes '.').
  *
  * So we scan for candidate positions with plain char tests (JIT
  * vectorizes these; ~1 ns/char) and delegate the actual match to the
  * SAME compiled Pattern via `Matcher.lookingAt` on a region anchored
  * at the candidate. Nothing about match semantics is reimplemented:
  * greedy backtracking, guard consumption (the one-char `$2` eat that
  * affects adjacent matches), and Java's `$`-before-final-newline rule
  * all come from the engine itself. `useAnchoringBounds(false)` keeps
  * `^`/`$` meaning true begin/end of input rather than region bounds.
  *
  * Candidate completeness argument, per stage:
  *  - email: any match contains exactly the '@'s found by indexOf; for
  *    an '@' at k, all viable starts share k's domain side, so if the
  *    maximal-left-atom start L fails, every start in (L, k) fails the
  *    same way and the scan may jump to k+1.
  *  - card/phone/ip: a match at p consumes either the zero-width `^`
  *    (p == 0) or one guard char at p, then its first trigger char at
  *    p+1 — the (guardOk(s[p]) && trigger(s[p+1])) test is necessary.
  * A `lookingAt` failure advances the scan by one position, exactly
  * like the engine's own bump-along loop.
  *
  * Thread-safety: a [[Scrubber]] holds mutable Matchers — one instance
  * per thread/partition (see [[PiiScrub.scrubBatched]]).
  */
object PiiScan {

  private val TokEmail = "<EMAIL>"
  private val TokCard = "<CARD>"
  private val TokPhone = "<PHONE>"
  private val TokIp = "<IP>"

  final class Scrubber {
    private val ms: Array[Matcher] = PiiScrub.Stages.map { case (p, _) =>
      val m = Pattern.compile(p).matcher("")
      m.useAnchoringBounds(false)
      m
    }.toArray

    def scrub(s0: String): String = {
      var s = email(s0)
      s = guarded(s, 1, TokCard, 2, isDigit, isDigit, plusParen = false)
      s = guarded(s, 2, TokPhone, 2, isDigit, isDigit, plusParen = true)
      s = guarded(s, 3, TokIp, 3, c => isDigit(c) || c == '.', isDigit, plusParen = false)
      s
    }

    @inline private def isDigit(c: Char): Boolean = c >= '0' && c <= '9'
    @inline private def isAtom(c: Char): Boolean =
      (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') || isDigit(c) ||
        c == '.' || c == '_' || c == '%' || c == '+' || c == '-'

    /** Stage 0: email — candidates from indexOf('@'). */
    private def email(s: String): String = {
      var at = s.indexOf('@')
      if (at < 0) return s
      val m = ms(0)
      m.reset(s)
      var out: java.lang.StringBuilder = null
      var copied = 0
      var scan = 0
      while (at >= 0) {
        var l = at
        while (l > scan && isAtom(s.charAt(l - 1))) l -= 1
        var matched = false
        if (l < at) {
          m.region(l, s.length)
          if (m.lookingAt()) {
            if (out == null) out = new java.lang.StringBuilder(s.length)
            out.append(s, copied, l).append(TokEmail)
            copied = m.end
            scan = m.end
            matched = true
          }
        }
        // a failed '@' fails for every start left of it (the domain
        // side is start-independent) — resume after it
        if (!matched) scan = at + 1
        at = if (scan <= at) s.indexOf('@', at + 1) else s.indexOf('@', scan)
      }
      if (out == null) s
      else { out.append(s, copied, s.length); out.toString }
    }

    /** Guard-opened stages (card / phone / ip): replacement is
      * group(1) + token + group(lastGroup); candidates are positions p
      * with guardExcl(s[p]) false … i.e. s[p] outside the guard's
      * excluded class … and trigger(s[p+1]), plus p == 0 when s[0] can
      * begin the body via the zero-width `^` branch.
      */
    private def guarded(s: String, mi: Int, token: String, lastGroup: Int,
                        guardExcl: Char => Boolean, trigger: Char => Boolean,
                        plusParen: Boolean): String = {
      val n = s.length
      if (n == 0) return s
      val m = ms(mi)
      var reset = false
      var out: java.lang.StringBuilder = null
      var copied = 0
      var p = 0
      while (p < n) {
        val c = s.charAt(p)
        val candidate =
          if (p == 0)
            trigger(c) || (plusParen && (c == '+' || c == '(')) ||
              (!guardExcl(c) && n > 1 && isTrig(s.charAt(1), trigger, plusParen))
          else
            !guardExcl(c) && p + 1 < n && isTrig(s.charAt(p + 1), trigger, plusParen)
        if (candidate) {
          if (!reset) { m.reset(s); reset = true }
          m.region(p, n)
          if (m.lookingAt()) {
            if (out == null) out = new java.lang.StringBuilder(n)
            out.append(s, copied, p)
            out.append(s, m.start(1), m.end(1)).append(token)
              .append(s, m.start(lastGroup), m.end(lastGroup))
            copied = m.end
            p = m.end
          } else p += 1
        } else p += 1
      }
      if (out == null) s
      else { out.append(s, copied, n); out.toString }
    }

    @inline private def isTrig(c: Char, trigger: Char => Boolean,
                               plusParen: Boolean): Boolean =
      trigger(c) || (plusParen && (c == '+' || c == '('))
  }
}
