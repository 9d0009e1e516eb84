package graft.text

import java.util.regex.Pattern

/** Python-string-semantics helpers.
  *
  * The reference pipeline (rafalpronko/pdf-parser) is CPython 3.11; its
  * chunker/tokenizer semantics (`app/processing/chunker.py`,
  * `app/retrieval/bm25_index.py:208-227`) depend on Python's unicode-aware
  * `str.strip` / `str.split` / `str.isupper` / `re` classes. The JVM
  * defaults differ in small ways (`String.trim` is ASCII-only,
  * `Character.isWhitespace` excludes NBSP/NEL, `\s`/`\w` are ASCII unless
  * UNICODE_CHARACTER_CLASS). These helpers pin the Python behavior so the
  * golden per-turn text-equality gate (`sbt -batch test`) holds
  * byte-for-byte. Pure functions — safe inside codegen'd expressions and
  * `mapPartitions` alike.
  */
object PyText {

  /** Python `str.isspace()` per char: unicode whitespace incl. NBSP-family
    * and NEL, which `Character.isWhitespace` excludes.
    */
  @inline def pyIsSpace(c: Char): Boolean =
    Character.isWhitespace(c) || c == '\u00A0' || c == '\u2007' ||
      c == '\u202F' || c == '\u0085' ||
      (Character.getType(c) match {
        case Character.SPACE_SEPARATOR | Character.LINE_SEPARATOR |
            Character.PARAGRAPH_SEPARATOR => true
        case _ => false
      })

  /** Python `str.strip()` — unicode whitespace from both ends. */
  def pyStrip(s: String): String = {
    var i = 0
    var j = s.length
    while (i < j && pyIsSpace(s.charAt(i))) i += 1
    while (j > i && pyIsSpace(s.charAt(j - 1))) j -= 1
    if (i == 0 && j == s.length) s else s.substring(i, j)
  }

  /** Python `str.split()` (no args): split on unicode-whitespace runs,
    * no empty tokens.
    */
  def pySplit(s: String): Vector[String] = {
    val out = Vector.newBuilder[String]
    var i = 0
    val n = s.length
    while (i < n) {
      while (i < n && pyIsSpace(s.charAt(i))) i += 1
      val start = i
      while (i < n && !pyIsSpace(s.charAt(i))) i += 1
      if (i > start) out += s.substring(start, i)
    }
    out.result()
  }

  /** `pyStrip(s).isEmpty` without the substring allocation. */
  def pyIsBlank(s: String): Boolean = {
    var i = 0
    val n = s.length
    while (i < n && pyIsSpace(s.charAt(i))) i += 1
    i == n
  }

  /** `pySplit(s).size` without materializing the tokens. */
  def pyWordCount(s: String): Int = {
    var i = 0
    var c = 0
    val n = s.length
    while (i < n) {
      while (i < n && pyIsSpace(s.charAt(i))) i += 1
      if (i < n) c += 1
      while (i < n && !pyIsSpace(s.charAt(i))) i += 1
    }
    c
  }

  /** Python `str.isupper()`: at least one cased char and no cased char is
    * lower/title-case.
    */
  def pyIsUpper(s: String): Boolean = {
    var hasCased = false
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      if (Character.isLowerCase(cp) || Character.getType(cp) == Character.TITLECASE_LETTER)
        return false
      if (Character.isUpperCase(cp)) hasCased = true
      i += Character.charCount(cp)
    }
    hasCased
  }

  /** Compile with Python-equivalent class semantics: `\s`/`\w`/`\d`
    * unicode-aware, `$` recognizing only `\n` as a line terminator.
    */
  def pyPattern(regex: String): Pattern =
    Pattern.compile(regex, Pattern.UNICODE_CHARACTER_CLASS | Pattern.UNIX_LINES)

  /** True when `s` contains a UTF-16 surrogate — i.e. Python `len(s)`
    * (code points) and JVM `s.length` (UTF-16 units) disagree. The
    * chunker's length arithmetic takes the zero-overhead `.length` path
    * when this is false (the overwhelmingly common case) and switches to
    * code-point counting when true, keeping parity with CPython on
    * astral-plane text (emoji, CJK extensions, musical symbols).
    */
  @inline def hasSurrogate(s: String): Boolean = {
    var i = 0
    val n = s.length
    while (i < n) {
      if (Character.isSurrogate(s.charAt(i))) return true
      i += 1
    }
    false
  }

  /** Python `len(s)`: code points. A surrogate pair counts once; a lone
    * surrogate (invalid scalar, but representable on both sides) also
    * counts once, matching CPython's round-trip behavior.
    */
  @inline def cpLen(s: String): Int = s.codePointCount(0, s.length)

  /** Char offset of each code-point index: `off(k)` is the UTF-16 index
    * where code point `k` starts; `off(cpLen)` = `s.length`. Lets the
    * astral-aware chunker translate Python slice positions to JVM
    * substring bounds in O(1) after one O(n) build.
    */
  def cpOffsets(s: String): Array[Int] = {
    val out = new Array[Int](cpLen(s) + 1)
    var ci = 0
    var k = 0
    while (ci < s.length) {
      out(k) = ci
      ci = s.offsetByCodePoints(ci, 1)
      k += 1
    }
    out(k) = s.length
    out
  }
}
