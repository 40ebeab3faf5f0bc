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
    def kindAt(pos: Int) = { val w = new Walk(s); while (w.next() && w.end <= pos) (); w.kind }
    assert(kindAt(0) === Word && kindAt(7) === Literal && kindAt(9) === Literal &&
      kindAt(14) === Comment)
    assert(lift(s) === "SELECT 'a  b'  \n /*+ HINT */ x")
    assert(collapseSpace("  SELECT  'a  b' -- c\n  x  ") === "SELECT 'a  b' -- c\nx")
  }

  test("numbers are one token: digits, a fraction and an exponent") {
    assert(tokens("1.5e-3 t.1 LIMIT 10") === Seq(
      Number -> "1.5e-3", Space -> " ", Word -> "t", Symbol -> ".", Number -> "1", Space -> " ",
      Word -> "LIMIT", Space -> " ", Number -> "10"))
    assert(tokens("2E5 1. x1") === Seq(
      Number -> "2E5", Space -> " ", Number -> "1", Symbol -> ".", Space -> " ", Word -> "x1"))
    val c = topLevel("TOP 10 1.5 2e3 x", 4)
    assert(c.isInt(0) && !c.isInt(1) && c.isNumber(1) && !c.isInt(2) && !c.isInt(3) && !c.isInt(4))
  }

  test("top-level code tokens skip comments and the inside of groups") {
    val c = topLevel("/* a */ SELECT f(x, (y)) -- b\n FROM t SETTINGS k = 'v' -- c")
    assert((0 until c.size).map(c.text) ===
      Seq("SELECT", "f", "(", ")", "FROM", "t", "SETTINGS", "k", "=", "'v'"))
    assert(c.isWord(0, "select") && c.isSym(2, '(') && c.isQuoted(9, '\'') && !c.isWord(10))
    assert(c.cutBefore(6) === c.end(5) && c.cutBefore(0) === 0)
    assert(topLevel("a) b").size === 3) // a stray closer stays at the top level
  }

  test("brace parameter markers: name, type text and end; other braces are not markers") {
    assert(braceParam("x = {id : Array(Int32)} y", 4) ===
      Some(BraceParam("id", "Array(Int32)", 23)))
    assert(braceParam("{t /* c */:identifier}", 0).exists(_.isIdentifier))
    assert(braceParam("{table}", 0).isEmpty && braceParam("{t:}", 0).isEmpty &&
      braceParam("{t:String", 0).isEmpty)
  }
}
