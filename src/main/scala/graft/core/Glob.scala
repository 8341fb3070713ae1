package graft.core

import java.util.regex.{Matcher, Pattern}

/** A compiled wildcard pattern over `/`-separated keys.
  *
  * Behavior spec comes from the reference's glob semantics
  * (reference: src/main/scala/.../Glob.scala:8-66, behavior spec
  * GlobTest.scala:8-49). The reference builds an atto combinator
  * parser; we compile the glob to an anchored regex instead (no
  * parser dependency, and the regex source doubles as a Catalyst
  * predicate). Faithful semantics:
  *
  *   - every non-`*` character matches itself literally;
  *   - `*` matches a (possibly empty) run of characters that never
  *     crosses the path separator and stops at the first occurrence
  *     of the next literal character — *possessively*, with no
  *     backtracking (the reference uses `takeWhile`), so `*ab` does
  *     NOT match `xaab`. Compiled as the character class
  *     `[^<sep><next-literal>]*`, which is backtracking-free by
  *     construction;
  *   - each `*` is a capture group, exposed through [[unapplySeq]] so
  *     globs can be used directly in `match` expressions;
  *   - `matches(key, partial = true)` and [[unapplySeq]] anchor only
  *     at the start — the key may extend past the pattern (the
  *     reference's extractor is deliberately prefix-partial so that
  *     source prefixes can stay short);
  *   - the empty glob matches nothing.
  *
  * The compiled source is exposed via [[regex]] / [[fullRegex]] for
  * columnar use (`col.rlike(glob.fullRegex)`): the driver-side
  * matcher and the Catalyst predicate share one compilation, so the
  * same filter applied to a `Dataset` of billions of listed keys
  * evaluates inside codegen rather than in a Scala closure.
  */
final case class Glob(glob: String, pathSep: Char = '/') {

  // Minimal escaping (no \Q...\E) so the compiled source is valid in
  // both java.util.regex and RE2-family engines (Spark codegen'd
  // rlike uses Java regex; the DuckDB oracle uses RE2).
  private def escLiteral(c: Char): String =
    if ("\\.[]{}()*+-?^$|".indexOf(c) >= 0) "\\" + c else c.toString
  private def escInClass(c: Char): String =
    if ("\\]^-[".indexOf(c) >= 0) "\\" + c else c.toString

  /** Anchored-at-start regex source for this glob (no trailing `$`). */
  val regex: String = {
    val sb    = new StringBuilder("^")
    val chars = glob.toCharArray
    var i     = 0
    while (i < chars.length) {
      chars(i) match {
        case '*' =>
          // Exclusion class: the separator, plus the next literal
          // character (if any) — possessive stop-at-first semantics.
          val next = if (i + 1 < chars.length) Some(chars(i + 1)) else None
          sb.append("([^").append(escInClass(pathSep))
          next.filter(c => c != pathSep && c != '*').foreach { c =>
            sb.append(escInClass(c))
          }
          sb.append("]*)")
        case c =>
          sb.append(escLiteral(c))
      }
      i += 1
    }
    sb.toString
  }

  /** Fully-anchored regex source (for `rlike` / external engines). */
  val fullRegex: String = regex + "$"

  private val fullP: Pattern   = Pattern.compile(fullRegex)
  private val prefixP: Pattern = Pattern.compile(regex)

  /** True if the pattern matches `key`; with `partial = true` only the
    * beginning of the key needs to match.
    */
  def matches(key: String, partial: Boolean = false): Boolean =
    if (glob.isEmpty) false
    else if (partial) prefixP.matcher(key).lookingAt()
    else fullP.matcher(key).matches()

  /** Extractor: prefix-matches (intentionally partial, matching the
    * reference) and yields the `*` captures in order.
    */
  def unapplySeq(key: String): Option[List[String]] = {
    if (glob.isEmpty) return None
    val m: Matcher = prefixP.matcher(key)
    if (!m.lookingAt()) None
    else Some((1 to m.groupCount()).map(m.group).toList)
  }
}

object Glob {
  import scala.language.implicitConversions
  implicit def stringToGlob(s: String): Glob = Glob(s)
}
