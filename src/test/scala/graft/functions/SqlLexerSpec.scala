package graft.functions

import org.scalatest.funsuite.AnyFunSuite

/** The lexical rules every reader of SQL text shares (see [[SqlLexer]]). */
class SqlLexerSpec extends AnyFunSuite {
  import SqlLexer._

  private def tokens(s: String): Seq[(Int, String)] = {
    val w = new Walk(s)
    Iterator.continually(w).takeWhile(_.next()).map(t => (t.kind, t.text)).toSeq
  }

  test("literals of all three quote kinds keep doubled quotes and backslash escapes inside") {
    assert(tokens("'it''s' \"a\\\"b\" `x\\`y` `p``q`") === Seq(
      Literal -> "'it''s'", Space -> " ", Literal -> "\"a\\\"b\"", Space -> " ",
      Literal -> "`x\\`y`", Space -> " ", Literal -> "`p``q`"))
    assert(tokens("'open") === Seq(Literal -> "'open"))
  }

  test("comments run to the newline or the closer; words follow the Java identifier rules") {
    assert(tokens("a--b c\n/* d */$e1") === Seq(
      Word -> "a", Comment -> "--b c", Space -> "\n", Comment -> "/* d */", Word -> "$e1"))
    assert(tokens("/* open") === Seq(Comment -> "/* open"))
  }

  test("brackets nest like parentheses in matching, splitting and clause ends") {
    assert(matchParen("(f(x)[1], ']') y", 0) === 14)
    assert(splitTopLevel("f(a, b), [c, d], 'e, f' -- g, h\n, `i,j`") ===
      Seq("f(a, b)", " [c, d]", " 'e, f' -- g, h\n", " `i,j`"))
    assert(clauseEnd("x[WHERE] /* WHERE */ WHERE y", 0, Set("WHERE")) === ((21, "WHERE")))
    assert(clauseEnd("a, b) LIMIT 1", 0, Set("LIMIT")) === ((4, "")))
  }

  test("code positions, comment-free splices and whitespace collapse") {
    val s = "SELECT 'a  b' -- c\n /*+ HINT */ x"
    assert(isCode(s, 0) && !isCode(s, 7) && !isCode(s, 9) && !isCode(s, 14))
    assert(lift(s) === "SELECT 'a  b'  \n /*+ HINT */ x")
    assert(collapseSpace("  SELECT  'a  b' -- c\n  x  ") === "SELECT 'a  b' -- c\nx")
  }
}
