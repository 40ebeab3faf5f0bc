package graft.functions

/** The one owner of graft's lexical rules for SQL text. Every reader of
  * SQL text — the dialect rewrites in [[ChSqlRewrite]], the query cache's
  * key, identifier-parameter binding and the stub server's clause finder
  * — walks tokens through here, so "inside a literal or a comment" means
  * the same thing everywhere. The text splits into contiguous tokens:
  *
  *  - literals `'…'`, `"…"` and `` `…` ``: a doubled quote stays inside,
  *    and so does a backslash-escaped character — in all three, as in
  *    ClickHouse (the connector's [[graft.connector.CHSql.ident]] escapes
  *    a backtick in a name as `` \` ``); an unterminated literal runs to
  *    the end of the text;
  *  - comments: `--` up to (not including) the next newline, and
  *    `/* … */` (unterminated: to the end of the text);
  *  - words: a Java identifier start followed by identifier parts;
  *  - runs of whitespace;
  *  - every other character is a one-character symbol. `(` and `[` open
  *    a nesting level, `)` and `]` close one.
  *
  * Literals, words and symbols are code; whitespace and comments are not.
  */
private[graft] object SqlLexer {
  final val Word = 0
  final val Literal = 1
  final val Comment = 2
  final val Space = 3
  final val Symbol = 4

  /** A forward walk over the tokens of `s` from `from`. After each
    * successful `next`, [`start`, `end`) is the token, `kind` its kind,
    * and `depth` the nesting level after it, relative to `from` (a
    * closer of the enclosing level reads -1). */
  final class Walk(val s: String, from: Int = 0) {
    var start = from
    var end = from
    var kind = Space
    var depth = 0

    def next(): Boolean = {
      start = end
      if (start >= s.length) return false
      val c = s.charAt(start)
      end = tokenEnd(s, start)
      kind = kindOf(s, start)
      if (kind == Symbol) {
        if (c == '(' || c == '[') depth += 1
        else if (c == ')' || c == ']') depth -= 1
      }
      true
    }

    /** Advances to the next code token (literal, word or symbol). */
    def nextCode(): Boolean = {
      while (next()) if (kind != Space && kind != Comment) return true
      false
    }

    /** Continues the walk at `pos`, keeping the current depth (`pos` must
      * end a balanced stretch, e.g. a [[matchParen]] result). */
    def jump(pos: Int): Unit = { end = pos; start = pos }

    def char: Char = s.charAt(start)
    def isSym(c: Char): Boolean = kind == Symbol && s.charAt(start) == c
    def isWord(w: String): Boolean =
      kind == Word && end - start == w.length && s.regionMatches(true, start, w, 0, w.length)
    def text: String = s.substring(start, end)
    def upper: String = text.toUpperCase(java.util.Locale.ROOT)
    /** A closer of the level the walk started in. */
    def closesScope: Boolean = kind == Symbol && depth < 0
  }

  private def kindOf(s: String, i: Int): Int = {
    val c = s.charAt(i)
    if (c == '\'' || c == '"' || c == '`') Literal
    else if (opensComment(s, i)) Comment
    else if (Character.isJavaIdentifierStart(c)) Word
    else if (Character.isWhitespace(c)) Space
    else Symbol
  }

  private def opensComment(s: String, i: Int): Boolean =
    i + 1 < s.length && {
      val c = s.charAt(i); val d = s.charAt(i + 1)
      (c == '-' && d == '-') || (c == '/' && d == '*')
    }

  /** End of the token starting at `i` (`i < s.length`). */
  def tokenEnd(s: String, i: Int): Int = {
    val n = s.length
    val c = s.charAt(i)
    if (c == '\'' || c == '"' || c == '`') {
      var j = i + 1
      while (j < n) {
        val d = s.charAt(j)
        if (d == '\\') j += 2
        else if (d == c) {
          if (j + 1 < n && s.charAt(j + 1) == c) j += 2 // doubled quote
          else return j + 1
        } else j += 1
      }
      n
    } else if (c == '-' && opensComment(s, i)) {
      val nl = s.indexOf('\n', i)
      if (nl < 0) n else nl
    } else if (c == '/' && opensComment(s, i)) {
      val close = s.indexOf("*/", i + 2)
      if (close < 0) n else close + 2
    } else if (Character.isJavaIdentifierStart(c)) {
      var j = i + 1
      while (j < n && Character.isJavaIdentifierPart(s.charAt(j))) j += 1
      j
    } else if (Character.isWhitespace(c)) {
      var j = i + 1
      while (j < n && Character.isWhitespace(s.charAt(j))) j += 1
      j
    } else i + 1
  }

  /** Past the whitespace and comments at `i`. */
  def skipSpace(s: String, i: Int): Int = {
    var j = i
    while (j < s.length && { val k = kindOf(s, j); k == Space || k == Comment })
      j = tokenEnd(s, j)
    j
  }

  /** The word starting exactly at `i` and the index after it, or ("", i). */
  def wordAt(s: String, i: Int): (String, Int) =
    if (i < s.length && Character.isJavaIdentifierStart(s.charAt(i))) {
      val e = tokenEnd(s, i)
      (s.substring(i, e), e)
    } else ("", i)

  /** The first code token after `i`, when it is a word: ("", j) otherwise,
    * where `j` is that token's start. */
  def nextWord(s: String, i: Int): (String, Int) = wordAt(s, skipSpace(s, i))

  /** The dot-joined name starting at `i`, each part a word or a `…` or
    * "…" identifier: (index after it, its last part unquoted), or None
    * when a part is missing. */
  def qualifiedName(s: String, i: Int): Option[(Int, String)] = {
    var p = i
    var last = ""
    while (true) {
      if (p < s.length && (s.charAt(p) == '`' || s.charAt(p) == '"')) {
        val e = tokenEnd(s, p)
        last = s.substring(p + 1, math.max(p + 1, e - 1)); p = e
      } else {
        val (w, after) = wordAt(s, p)
        if (w.isEmpty) return None
        last = w; p = after
      }
      if (p < s.length && s.charAt(p) == '.') p += 1 else return Some((p, last))
    }
    None
  }

  /** `s(open)` opens a level; the index just past the closer that ends it,
    * or -1 when the text ends first. */
  def matchParen(s: String, open: Int): Int = {
    val w = new Walk(s, open)
    while (w.next()) if (w.kind == Symbol && w.depth == 0) return w.end
    -1
  }

  /** `s` split at its top-level commas. */
  def splitTopLevel(s: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    val w = new Walk(s)
    var last = 0
    while (w.nextCode()) if (w.depth == 0 && w.isSym(',')) {
      out += s.substring(last, w.start); last = w.end
    }
    out += s.substring(last)
    out.result()
  }

  /** End of the clause starting at `from`: the start of the first word in
    * `stops` at the starting level, or of the closer that ends the level,
    * or the text's end. Returns (end, upper-case stop word or ""). */
  def clauseEnd(s: String, from: Int, stops: Set[String]): (Int, String) = {
    val w = new Walk(s, from)
    while (w.nextCode()) {
      if (w.closesScope) return (w.start, "")
      if (w.kind == Word && w.depth == 0) {
        val u = w.upper
        if (stops.contains(u)) return (w.start, u)
      }
    }
    (s.length, "")
  }

  /** True when the word appears in code; at the top level only when
    * `topLevel`. */
  def hasWord(s: String, word: String, topLevel: Boolean): Boolean = {
    val w = new Walk(s)
    while (w.nextCode()) if (w.isWord(word) && (!topLevel || w.depth == 0)) return true
    false
  }

  /** True when `pos` lies in code: not inside a literal or a comment. */
  def isCode(s: String, pos: Int): Boolean = {
    val w = new Walk(s)
    while (w.next()) if (pos < w.end) return w.kind != Literal && w.kind != Comment
    true
  }

  /** `s(from until to)` made safe to splice into generated text: each
    * comment becomes one space, so a `--` comment cannot swallow what
    * follows; optimizer hints (`/*+ … */`) are kept. */
  def lift(s: String, from: Int, to: Int): String = {
    val d = s.indexOf("--", from); val b = s.indexOf("/*", from)
    if ((d < 0 || d >= to) && (b < 0 || b >= to)) return s.substring(from, to)
    val sb = new java.lang.StringBuilder(to - from)
    val w = new Walk(s, from)
    while (w.next() && w.start < to) {
      if (w.kind == Comment && !s.startsWith("/*+", w.start)) sb.append(' ')
      else sb.append(s, w.start, math.min(w.end, to))
    }
    sb.toString
  }

  def lift(s: String): String = lift(s, 0, s.length)

  /** `s` trimmed, with each run of whitespace in code collapsed to one
    * space, keeping the line break that ends a `--` comment; literals and
    * comments are kept verbatim. */
  def collapseSpace(s: String): String = {
    val sb = new java.lang.StringBuilder(s.length)
    val w = new Walk(s)
    var lineComment = false
    while (w.next()) {
      if (w.kind == Space) {
        if (w.start > 0 && w.end < s.length) sb.append(if (lineComment) '\n' else ' ')
      } else sb.append(s, w.start, w.end)
      lineComment = w.kind == Comment && w.char == '-'
    }
    sb.toString
  }
}
