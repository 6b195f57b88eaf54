package graft.index

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** Code-aware tokenizer: lowercase, extract runs of [a-z0-9_].
  *
  * The SQL definition (`termsCol`) is `regexp_extract_all` on the POSITIVE
  * class rather than `split` on the negated class: the two are semantically
  * identical (extracting token-character runs == splitting on non-token runs
  * and dropping empties), but the JDK's negated-character-class matcher
  * (Pattern$CharPredicate.negate) collapses under executor-thread
  * concurrency on this JVM (~60× measured slowdown at 32 threads), while
  * the positive class runs at full speed.
  *
  * The JVM-side twin (`tokenize`) goes further: for ASCII input (every byte
  * < 0x80) a hand-rolled run scanner produces exactly the regex's output with
  * no regex machinery at all — extracting maximal runs of [A-Za-z0-9_] and
  * lowercasing them equals running `[a-z0-9_]+` over `lower(s)`, because
  * ASCII lowercasing is 1:1 and never moves a char in or out of the class.
  * Any non-ASCII char (where Unicode lowercasing could be n:m, e.g.
  * U+0130 → "i̇", or map INTO the class, e.g. Kelvin sign → 'k') falls back
  * to the regex, which stays the definition of record.
  *
  * The analog of the reference's composite-key normalization (`KeysJoin`,
  * psi/utils/key.cc:185-187): build and query MUST use the identical
  * function (like the reference's `server_secret_key_path` parity
  * requirement).
  */
object Tokenize {
  val TokenPattern = "[a-z0-9_]+"

  /** Column of tokens (non-empty by construction). */
  def termsCol(content: Column): Column =
    regexp_extract_all(lower(content), lit(TokenPattern), lit(0))

  /** The ASCII token-char class of the fast paths: [A-Za-z0-9_], i.e. the
    * chars that `TokenPattern` matches after ASCII lowercasing. Shared with
    * the index build's draft encoder, so build and query cannot drift.
    */
  @inline private[graft] def isTokChar(c: Char): Boolean =
    (c >= 'a' && c <= 'z') || (c >= '0' && c <= '9') ||
      (c >= 'A' && c <= 'Z') || c == '_'

  /** ASCII lowercasing of one char (1:1; other chars unchanged). */
  @inline private[graft] def asciiLower(c: Char): Char =
    if (c >= 'A' && c <= 'Z') (c + 32).toChar else c

  /** Whether every char of `s` is ASCII — the gate of the fast paths: any
    * char ≥ 0x80 sends the whole string to the regex definition of record.
    */
  private[graft] def isAscii(s: String): Boolean = {
    val n = s.length
    var i = 0
    while (i < n && s.charAt(i) < 0x80) i += 1
    i == n
  }

  /** JVM-side twin — must match `termsCol` exactly. ASCII fast path (run
    * scanner, no regex); non-ASCII input falls back to the regex definition.
    */
  def tokenize(s: String): Array[String] = {
    if (!isAscii(s)) return tokenizeRegex(s)
    val n = s.length
    val out = Array.newBuilder[String]
    var i = 0
    while (i < n) {
      if (isTokChar(s.charAt(i))) {
        val start = i
        i += 1
        while (i < n && isTokChar(s.charAt(i))) i += 1
        val len = i - start
        val buf = new Array[Char](len)
        var j = 0
        while (j < len) { buf(j) = asciiLower(s.charAt(start + j)); j += 1 }
        out += new String(buf)
      } else i += 1
    }
    out.result()
  }

  private val CompiledToken = java.util.regex.Pattern.compile(TokenPattern)

  /** The regex definition of record (and the non-ASCII fallback).
    * Deliberately the platform-default `String.toLowerCase()` — Spark's own
    * `lower()` non-ASCII path is `UTF8String.toLowerCaseSlow` =
    * `toString().toLowerCase()` with the default locale (verified against
    * the spark-unsafe 4.1.2 bytecode), and the twin contract is to match
    * `termsCol` EXACTLY on whatever JVM both run on, not to match an
    * abstract root locale Spark itself doesn't use.
    */
  def tokenizeRegex(s: String): Array[String] = {
    val m = CompiledToken.matcher(s.toLowerCase)
    val out = Array.newBuilder[String]
    while (m.find()) out += m.group()
    out.result()
  }

  /** Token count without materializing tokens — `size(termsCol(c))` with
    * zero allocation. Called from the codegen'd `token_count` Expression
    * (graft.functions.TokenCount); scans UTF-8 bytes directly. Any byte
    * ≥ 0x80 → regex fallback (same contract as `tokenize`).
    */
  def tokenCount(s: UTF8String): Int = {
    val n = s.numBytes()
    var i = 0
    var cnt = 0
    var in = false
    while (i < n) {
      val b = s.getByte(i)
      if (b < 0) return tokenizeRegex(s.toString).length
      val tok = (b >= 'a' && b <= 'z') || (b >= 'A' && b <= 'Z') ||
        (b >= '0' && b <= '9') || b == '_'
      if (tok) { if (!in) { cnt += 1; in = true } } else in = false
      i += 1
    }
    cnt
  }
}
