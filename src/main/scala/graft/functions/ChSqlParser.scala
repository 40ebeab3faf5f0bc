package graft.functions

import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.parser.{ParseException, ParserInterface}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.types.{DataType, StructType}

/** ClickHouse SQL syntax shim (SURVEY §2.2; reference users ship CH SQL
  * text, `clickhouse-arrow/src/client.rs:643`). Injected via
  * `SparkSessionExtensions.injectParser`, it adapts CH-only spellings
  * onto Spark's grammar in two tiers:
  *
  * ALWAYS-ON (cannot change the meaning of any valid Spark query — the
  * rewritten shapes are not well-formed Spark SQL under any reading):
  *   quantile(0.9)(x)        → quantile(x, 0.9)     (param-agg call shape)
  *   quantiles(0.1,0.9)(x)   → percentile(x, array(0.1,0.9))
  *   uniqCombined(12)(x)     → uniqCombined(x)   (precision hint dropped —
  *                             Spark's HLL++ tunes via relativeSD, not 2^p)
  *   count()                 → count(*)   (CH's zero-arg count never
  *                             analyzes in Spark, so no working query
  *                             contains it)
  *   EXPLAIN AST/SYNTAX/...  → EXPLAIN EXTENDED/FORMATTED/COST
  *   trailing `;`            → stripped
  *   GLOBAL JOIN/LEFT/...    → GLOBAL dropped (a distribution hint in CH;
  *                             Spark's planner owns distribution. Parses
  *                             in Spark as a table alias named `global`,
  *                             so this lives with the ARRAY JOIN residual:
  *                             an alias literally named `global` directly
  *                             before a join keyword would be misread)
  *   FROM t FINAL            → latest-version-per-key dedup subquery, ONLY
  *                             for tables opted in via `registerFinalKey`
  *                             (CH FINAL is meaningless without a
  *                             ReplacingMergeTree key; unregistered tables
  *                             keep Spark's alias reading untouched)
  *   ASOF/ANY [LEFT] JOIN    → correlated LATERAL LIMIT-1 probe (ASOF
  *                             ordered by the ON clause's inequality, ANY
  *                             unordered); always-on of NECESSITY — the
  *                             phrase parses as an alias + plain join with
  *                             silently different semantics, so a matched
  *                             phrase that cannot rewrite THROWS
  *   FROM numbers(N)         → `range` TVF with the column renamed to
  *                             `number` (always-on of necessity: unknown
  *                             TVFs fail at ANALYSIS, which the rescue
  *                             tier never sees; Spark has no SQL TVF
  *                             registration a user query could shadow)
  *
  * RESCUE (attempted ONLY after Spark's own parser rejected the text, so
  * a working Spark query — including one that merely ends in an alias
  * named `format` or `sample` — is provably never altered):
  *   ... FORMAT JSONEachRow      → stripped (output format is a client
  *                                 concern; the result is a DataFrame)
  *   ... INTO OUTFILE 'p' …      → stripped (file output is client-side
  *                                 in CH too; write the DataFrame)
  *   ... SETTINGS k = v, ...     → stripped; `join_algorithm` becomes the
  *                                 matching Spark join-strategy hint,
  *                                 other keys apply as session confs
  *                                 through the A15 GraftSettings mapping
  *   FROM t SAMPLE 0.1           → deterministic md5-hash sample over the
  *                                 table's registered sampling key (CH
  *                                 requires a declared sampling key; so do
  *                                 we — `registerSampleKey`)
  *   FROM t [LEFT] ARRAY JOIN …  → LATERAL VIEW explode/posexplode (see
  *                                 rewriteArrayJoin; multi-array zips
  *                                 positionally like CH)
  *   PREWHERE c [WHERE d]        → WHERE (c) AND (d) — PREWHERE is a
  *                                 scan-order optimization in CH with
  *                                 plain-AND semantics; Catalyst's own
  *                                 predicate pushdown plays that role here
  *   GROUP BY k WITH TOTALS      → GROUP BY GROUPING SETS ((k), ()) — the
  *                                 totals row carries NULL keys (the
  *                                 b_agg11 convention); a HAVING applies
  *                                 to the totals row too (documented
  *                                 deviation from CH totals_mode)
  *   LIMIT n [OFFSET o] BY k     → row_number window over (k) filtered to
  *                                 o+1..o+n, ordered by the query's own
  *                                 ORDER BY (CH semantics; without one the
  *                                 pick is arbitrary, as in CH). The
  *                                 two-phase API form is `LimitBy.limitBy`
  *   x GLOBAL IN / GLOBAL ANY …  → GLOBAL dropped (these spellings never
  *                                 parse, so the wide keyword set is safe
  *                                 here, unlike the always-on join subset)
  *   ORDER BY c WITH FILL …      → sequence-axis FULL OUTER JOIN: grid
  *                                 gaps in [FROM, TO) materialize, rows
  *                                 off the grid survive; non-fill columns
  *                                 are NULL on fill rows (coalesce for
  *                                 CH's type-default zeros)
  *   CAST(x AS UInt64) / x::T    → the §1.2 Spark type mapping applied to
  *                                 CH type names (unknown types are parse
  *                                 errors, valid Spark spellings map to
  *                                 themselves or don't parse as CH)
  *   WITH 5 AS x SELECT …        → scalar WITH items become a one-row
  *                                 derived relation CROSS JOINed into the
  *                                 main FROM; real subquery CTEs bail to
  *                                 Spark untouched
  *   * REPLACE (expr AS col)     → `* EXCEPT (col), (expr) AS col` —
  *                                 Spark's star grammar has EXCEPT but
  *                                 not REPLACE; replaced columns move to
  *                                 the end (reference by name)
  *   SELECT [DISTINCT] TOP n …   → `… LIMIT n` (top-level SELECT only;
  *                                 TOP in a subquery, TOP+LIMIT, and
  *                                 `WITH TIES` fail loudly instead of
  *                                 guessing placement)
  *   [OFFSET o ROWS] FETCH FIRST m ROWS ONLY (query tail)
  *                               → `LIMIT m [OFFSET o]`; `WITH TIES`
  *                                 fails loudly
  *   LIMIT o, n                  → `LIMIT n OFFSET o` (the CH/MySQL
  *                                 comma form; any nesting depth)
  *   dateDiff('unit', s, e)      → toRelative<U>Num(e) − toRelative<U>Num(s)
  *                                 (CH's own definition — the quoted unit
  *                                 never parses in Spark's datediff form)
  *
  * All rewrites are textual, and [[SqlLexer]] is the one owner of their
  * lexical rules: every rewrite finds its keywords, numbers, lists and
  * clause ends through the lexer's tokens, and the head and tail clauses
  * (EXPLAIN, DROP … SYNC, `;`, FORMAT, INTO OUTFILE, SETTINGS, FETCH) are
  * read from a text's first and last top-level code tokens. So content
  * inside '…', "…", `…`, -- line comments and &#47;* block comments is
  * never touched, a comment next to a clause never hides it, and a
  * fragment spliced into generated text carries no comment.
  */
class ChSqlParser(delegate: ParserInterface) extends ParserInterface {

  /** Safe pass first; on ParseException retry once with the rescue pass
    * (CH-only clause forms). The original error is rethrown when rescue
    * changes nothing, so pure Spark syntax errors surface untouched. */
  private def parseRescuing[A <: AnyRef](sqlText: String)(f: String => A): A = {
    // a prior query's per-query SETTINGS scope ends, at the latest, when
    // the next statement arrives (the synchronous half of the CH
    // per-query scoping — see ChSqlRewrite.applySettings)
    org.apache.spark.sql.SparkSession.getActiveSession
      .foreach(ChSqlRewrite.drainPendingSettings)
    val safe = ChSqlRewrite(sqlText)
    try f(safe)
    catch {
      case e: ParseException =>
        val r = ChSqlRewrite.rescue(sqlText)
        if (r.sql == safe) throw e
        // parse FIRST: a rescue that still fails to parse must not
        // leave session confs mutated as a side effect
        val parsed = f(r.sql)
        ChSqlRewrite.applySettings(r.settings, parsed)
        parsed
    }
  }

  override def parsePlan(sqlText: String): LogicalPlan =
    parseRescuing(sqlText)(delegate.parsePlan)
  // parsePlanWithParameters is a DEFAULT method: without this override the
  // wrapper would inherit the interface default and silently drop the
  // bound-parameter context (A15 named params would arrive unbound)
  override def parsePlanWithParameters(
      sqlText: String,
      parameters: org.apache.spark.sql.catalyst.parser.ParameterContext): LogicalPlan =
    parseRescuing(sqlText)(delegate.parsePlanWithParameters(_, parameters))
  override def parseQuery(sqlText: String): LogicalPlan =
    parseRescuing(sqlText)(delegate.parseQuery)
  override def parseExpression(sqlText: String): Expression =
    delegate.parseExpression(ChSqlRewrite(sqlText))
  override def parseTableIdentifier(sqlText: String): TableIdentifier =
    delegate.parseTableIdentifier(sqlText)
  override def parseFunctionIdentifier(sqlText: String): FunctionIdentifier =
    delegate.parseFunctionIdentifier(sqlText)
  override def parseMultipartIdentifier(sqlText: String): Seq[String] =
    delegate.parseMultipartIdentifier(sqlText)
  override def parseTableSchema(sqlText: String): StructType = delegate.parseTableSchema(sqlText)
  override def parseDataType(sqlText: String): DataType = delegate.parseDataType(sqlText)
  override def parseRoutineParam(sqlText: String): StructType = delegate.parseRoutineParam(sqlText)
}

object ChSqlRewrite {
  import SqlLexer.{Code, Walk, lift, matchParen, nextWord, skipSpace, splitTopLevel, topLevel, wordAt}

  /** name(P)(A) → name(A, P) */
  private val swapParam = Set("quantile", "quantileexact", "quantiletdigest", "uniqupto",
    "quantiledeterministic")

  /** CH EXPLAIN operations (reference `explain.rs`) → the nearest Spark
    * EXPLAIN mode: AST/SYNTAX → EXTENDED (parsed + rewritten plans),
    * PLAN/PIPELINE → FORMATTED (logical/physical), ESTIMATE → COST. */
  private val explainModes = Map("AST" -> "EXTENDED", "SYNTAX" -> "EXTENDED",
    "PLAN" -> "FORMATTED", "PIPELINE" -> "FORMATTED", "ESTIMATE" -> "COST")

  /** `sql` as one statement: a trailing `;` cut, the CH EXPLAIN mode in
    * its first tokens mapped to Spark's. */
  private def statement(sql: String): String = {
    val c = topLevel(sql)
    val semi = if (c.isSym(c.size - 1, ';')) c.size - 1 else c.size
    val stmt = c.cut(semi)
    (if (c.isWord(0, "EXPLAIN") && semi > 1)
      explainModes.get(c.text(1).toUpperCase(java.util.Locale.ROOT)) else None)
      .fold(stmt)(mode => stmt.substring(0, c.start(1)) + mode + stmt.substring(c.end(1)))
  }

  // ------------------------------------------------------------ drivers

  /** The rewrite yielded at the first code token of `sql` where `at`
    * yields one. */
  private def firstSite(sql: String)(at: Walk => Option[String]): Option[String] = {
    val w = new Walk(sql)
    while (w.nextCode()) {
      val r = at(w)
      if (r.isDefined) return r
    }
    None
  }

  /** Applies `site` until it finds nothing left to rewrite: the one driver
    * of every rewrite that splices text and rescans from the start. Sites
    * nest (a subquery's PREWHERE inside an outer PREWHERE's condition), so
    * restarting after each splice is simpler than emitting every splice
    * of one pass at once. */
  private def everySite(sql: String)(site: String => Option[String]): String = {
    var cur = sql
    var next = site(cur)
    while (next.exists(_ != cur)) { cur = next.get; next = site(cur) }
    cur
  }

  private def spliceAll(sql: String)(at: Walk => Option[String]): String =
    everySite(sql)(firstSite(_)(at))

  /** The parenthesized list right after `at` (past any space): its text,
    * comments lifted out, and the index after its closer. */
  private def parenAfter(s: String, at: Int): Option[(String, Int)] = {
    val j = skipSpace(s, at)
    if (j >= s.length || s.charAt(j) != '(') None
    else {
      val e = matchParen(s, j)
      if (e < 0) None else Some((lift(s, j + 1, e - 1), e))
    }
  }

  // ------------------------------------------------------------ safe tier

  /** The always-on pass. ARRAY JOIN must live here, not in rescue: Spark
    * PARSES `FROM t ARRAY JOIN tags AS x` as alias `ARRAY` + an inner
    * join to table `tags`, failing only at ANALYSIS (table not found) —
    * which the parse-failure retry never sees. The residual false
    * positive is a table alias literally named `array`/`left` directly
    * followed by a bare JOIN (`FROM t array JOIN u`), which the rewrite
    * would misread; every other rewrite here matches shapes no valid
    * Spark SQL can contain. */
  def apply(sql: String): String =
    spliceAll(rewriteFinal(rewriteGlobal(
      rewriteAnyJoin(rewriteAsofJoin(rewriteNumbers(rewriteUntuple(
        rewriteArrayJoin(statement(sql)))))),
      globalJoinWords)))(paramCallAt)

  // ---------------------------------------------------------- rescue tier

  final case class Rescued(sql: String, settings: Seq[(String, String)])

  private val dropKinds = Seq("DATABASE", "SCHEMA", "TABLE", "VIEW")

  /** `sql` without its trailing `;` and, after CH `DROP DATABASE/TABLE …
    * SYNC` (harvested: the reference's tests issue `DROP DATABASE IF
    * EXISTS my_db SYNC`), without the SYNC — it makes CH wait for the
    * drop instead of scheduling it; Spark drops are always synchronous. */
  private def rescueHead(sql: String): String = {
    val c = topLevel(sql)
    val last = if (c.isSym(c.size - 1, ';')) c.size - 2 else c.size - 1
    c.cut(if (last >= 3 && c.isWord(0, "DROP") && dropKinds.exists(c.isWord(1, _)) &&
      c.isWord(last, "SYNC")) last else last + 1)
  }

  /** The parse-failure retry pass: CH clause forms (FORMAT / SETTINGS /
    * SAMPLE / ARRAY JOIN) that share surface syntax with valid Spark SQL
    * and therefore only run once Spark's parser has already rejected the
    * text. Returns the rewritten SQL plus the captured SETTINGS pairs
    * (minus `join_algorithm`, which becomes a join-strategy hint in the
    * text itself — per-query, like CH). */
  def rescue(sqlText: String): Rescued = {
    val stmt = rescueHead(sqlText)
    // CH DDL routes exclusively: its SETTINGS tail is storage knobs
    // (index_granularity …), never session confs, and the SELECT-oriented
    // rewrites below have no business inside a column list
    rewriteCreateTable(stmt) match {
      case Some(ddl) => return Rescued(ddl, Nil)
      case None => ()
    }
    val (noSet, kvs) = stripTail(stmt)
    val hinted = kvs.collectFirst {
      case (k, v) if k.equalsIgnoreCase("join_algorithm") => joinHintFor(v)
    }.flatten match {
      case Some(h) => injectHint(noSet, h)
      case None => noSet
    }
    val chClauses = rewriteLimitComma(rewriteLimitBy(rewriteQualify(rewriteWithFill(
      rewriteWithTotals(rewritePrewhere(rewriteChCasts(rewriteScalarWith(rewriteStarReplace(
        rewriteStarApply(rewriteDateDiff(rewriteFetchFirst(rewriteTop(rewriteGlobal(
          rewriteBracketArrays(rewriteBraceParams(hinted)), globalWideWords))))))))))))))
    Rescued(
      apply(rewriteSample(chClauses)),
      kvs.filterNot(_._1.equalsIgnoreCase("join_algorithm")))
  }

  // ------------------------------------------------------------- CH DDL

  /** CH `CREATE TABLE [IF NOT EXISTS] name (cols) ENGINE = E[(args)]
    * [ORDER BY …] [PRIMARY KEY …] [PARTITION BY …] [SAMPLE BY …]
    * [SETTINGS …] [COMMENT …]` → Spark DDL. This is the DDL text the
    * reference's users hand to `execute()` verbatim (the test suites
    * under `clickhouse-arrow/tests/` — "CREATE TABLE … ENGINE = Memory"
    * and "ENGINE = MergeTree() ORDER BY id" — and `py-clickhouse-arrow/
    * README`'s "CREATE TABLE test (id UInt64, name String) ENGINE =
    * Memory").
    *
    * Mapping (Spark-first): column types go through the §1.2 CHType
    * table (`Nullable(T)` → nullable T, `LowCardinality` unwraps); the
    * storage tail becomes `USING parquet` — engine choice is a storage
    * concern the lake format owns; `PARTITION BY ident` →
    * `PARTITIONED BY (ident)`. ORDER BY / PRIMARY KEY (the CH primary
    * index) have no Spark DDL analog and drop — EXCEPT that a
    * `ReplacingMergeTree(ver) … ORDER BY k` registers (k, "ver DESC")
    * as the table's FINAL key and `SAMPLE BY k` registers the sampling
    * key, so `FROM t FINAL` / `SAMPLE 0.1` work on tables created via
    * CH DDL exactly as the registry contract requires. `SETTINGS`
    * (index_granularity …) are storage knobs and drop. Semantics-bearing
    * constructs with no Spark analog (MATERIALIZED / ALIAS / EPHEMERAL
    * columns, TTL, expression PARTITION BY) THROW rather than silently
    * change behavior — the ASOF loud-failure policy.
    *
    * Rescue-only AND gated on a top-level `ENGINE` clause in the tail:
    * no valid Spark DDL contains one, so Spark-intended text that failed
    * to parse surfaces its own error untouched (returns None). */
  private val ddlTailWords =
    Set("ENGINE", "ORDER", "PRIMARY", "PARTITION", "SAMPLE", "TTL",
      "SETTINGS", "COMMENT", "AS")
  private val ddlColModWords =
    Set("DEFAULT", "MATERIALIZED", "EPHEMERAL", "ALIAS", "CODEC", "TTL",
      "COMMENT", "NOT", "NULL")

  private def rewriteCreateTable(sql: String): Option[String] = {
    val n = sql.length
    // CREATE [OR REPLACE] TABLE [IF NOT EXISTS]
    val h = topLevel(sql, 0, 8)
    val orReplace = h.isWord(1, "OR") && h.isWord(2, "REPLACE")
    val t = if (orReplace) 3 else 1
    val ifNotExists = h.isWord(t + 1, "IF") && h.isWord(t + 2, "NOT") && h.isWord(t + 3, "EXISTS")
    if (!h.isWord(0, "CREATE") || !h.isWord(t, "TABLE") || (h.isWord(1, "OR") && !orReplace) ||
      (h.isWord(t + 1, "IF") && !ifNotExists)) return None
    // qualified, possibly quoted table name
    val k = h.at(if (ifNotExists) t + 4 else t + 1)
    val (p, plainTable) = SqlLexer.qualifiedName(sql, k).getOrElse(return None)
    val nameText = sql.substring(k, p)
    // `ON CLUSTER x` (distributed DDL) sits between name and column
    // list; Spark's one-catalog DDL is cluster-wide by construction, so
    // the clause drops
    val on = topLevel(sql, p, 3)
    val afterName =
      if (!on.isWord(0, "ON")) skipSpace(sql, p)
      else if (on.isWord(1, "CLUSTER") &&
        (on.isWord(2) || on.isQuoted(2, '`') || on.isQuoted(2, '\''))) skipSpace(sql, on.end(2))
      else return None
    // column list is OPTIONAL: CH CTAS is `CREATE TABLE t ENGINE = … AS SELECT …`
    val (colsInsideOpt, tailStart) =
      if (afterName < n && sql.charAt(afterName) == '(') {
        val colsEnd = matchParen(sql, afterName)
        if (colsEnd < 0) return None
        (Some(sql.substring(afterName + 1, colsEnd - 1)), colsEnd)
      } else (None, afterName)

    // ---- tail clauses; bail (None) unless a top-level ENGINE exists ----
    val tail = sql.substring(tailStart)
    var engineName: Option[String] = None
    var engineArgs: Seq[String] = Nil
    var orderCols: Option[String] = None
    var sampleCol: Option[String] = None
    var partitionIdent: Option[String] = None
    var tableComment: Option[String] = None
    var ctasBody: Option[String] = None
    // expression text from `at` to the next top-level DDL clause word
    def clauseExpr(at: Int): (String, Int) = {
      val (end, _) = SqlLexer.clauseEnd(tail, at, ddlTailWords)
      (lift(tail, at, end).trim, end)
    }
    var t0 = skipSpace(tail, 0)
    while (t0 < tail.length) {
      val (w, aw) = wordAt(tail, t0)
      if (w.isEmpty) return None
      w.toUpperCase(java.util.Locale.ROOT) match {
        case "ENGINE" =>
          var q = skipSpace(tail, aw)
          if (q < tail.length && tail.charAt(q) == '=') q = skipSpace(tail, q + 1)
          val (en, ae) = wordAt(tail, q)
          if (en.isEmpty) return None
          engineName = Some(en)
          var after = ae
          val qa = skipSpace(tail, ae)
          if (qa < tail.length && tail.charAt(qa) == '(') {
            val (args, e2) = parenAfter(tail, qa).getOrElse(return None)
            engineArgs = splitTopLevel(args).map(_.trim).filter(_.nonEmpty)
            after = e2
          }
          t0 = skipSpace(tail, after)
        case "ORDER" | "PRIMARY" | "PARTITION" | "SAMPLE" =>
          val (kw2, a2b) = nextWord(tail, aw)
          val expected = if (w.equalsIgnoreCase("PRIMARY")) "KEY" else "BY"
          if (!kw2.equalsIgnoreCase(expected)) return None
          val (expText, after) = clauseExpr(skipSpace(tail, a2b))
          if (expText.isEmpty) return None
          val unTupled = {
            val e = expText.trim
            if (e.startsWith("(") && e.endsWith(")")) e.substring(1, e.length - 1).trim else e
          }
          w.toUpperCase(java.util.Locale.ROOT) match {
            case "ORDER" => orderCols = Some(unTupled)
            case "PRIMARY" => () // prefix of ORDER BY in CH; index concern, drops
            case "PARTITION" =>
              if (!unTupled.forall(ch => Character.isJavaIdentifierPart(ch)))
                throw new IllegalArgumentException(
                  s"CH DDL: expression PARTITION BY ($unTupled) has no Spark " +
                    "USING-table analog; partition on a column, or create the " +
                    "expression as a generated column first")
              partitionIdent = Some(unTupled)
            case _ => sampleCol = Some(unTupled)
          }
          t0 = after
        case "SETTINGS" => // index_granularity etc. — storage knobs, drop
          t0 = clauseExpr(skipSpace(tail, aw))._2
        case "COMMENT" =>
          val q = skipSpace(tail, aw)
          if (q >= tail.length || tail.charAt(q) != '\'') return None
          val e = SqlLexer.tokenEnd(tail, q)
          tableComment = Some(tail.substring(q, e))
          t0 = skipSpace(tail, e)
        case "TTL" =>
          throw new IllegalArgumentException(
            "CH DDL: TTL has no Spark analog (no background expiry); run the " +
              "expiry as a maintenance DELETE/overwrite job instead")
        case "AS" => // CH CTAS: the rest is the populating query
          ctasBody = Some(tail.substring(skipSpace(tail, aw)))
          t0 = tail.length
        case _ => return None // unknown tail — not CH DDL we understand
      }
    }
    if (engineName.isEmpty) return None // the CH gate: Spark DDL never has ENGINE
    if (ctasBody.exists(_.trim.isEmpty)) return None
    if (ctasBody.isDefined && colsInsideOpt.isDefined)
      throw new IllegalArgumentException(
        "CH DDL: CREATE TABLE (schema) ... AS SELECT declares an explicit " +
          "schema on a CTAS, which Spark cannot express — drop the column " +
          "list (types come from the query) or CREATE then INSERT ... SELECT")

    // ---- column list ----
    val cols = colsInsideOpt.toSeq.flatMap(inside =>
      splitTopLevel(lift(inside)).map(_.trim).filter(_.nonEmpty).map(mapDdlColumn))

    // FINAL / SAMPLE registry wiring (the CH-DDL contract these rewrites document)
    if (engineName.exists(_.equalsIgnoreCase("ReplacingMergeTree")) && engineArgs.nonEmpty)
      orderCols.foreach { oc =>
        registerFinalKey(plainTable, oc, engineArgs.head + " DESC")
      }
    sampleCol.foreach(sc => registerSampleKey(plainTable, sc))

    val header = "CREATE " + (if (orReplace) "OR REPLACE " else "") + "TABLE " +
      (if (ifNotExists) "IF NOT EXISTS " else "") + nameText
    Some(header +
      (if (cols.nonEmpty) " (" + cols.mkString(", ") + ")" else "") +
      " USING parquet" +
      partitionIdent.map(c => s" PARTITIONED BY ($c)").getOrElse("") +
      tableComment.map(c => s" COMMENT $c").getOrElse("") +
      // the CTAS body gets the always-on CH rewrite pass (numbers(),
      // ASOF, arrayJoin …); rescue-tier clause forms inside a CTAS body
      // stay loud — rare, and silence would be worse
      ctasBody.map(b => " AS " + apply(b)).getOrElse(""))
  }

  /** One CH column definition → Spark: `name CHType [modifiers]`.
    * DEFAULT passes through (Spark supports column defaults for
    * USING-parquet tables), NOT NULL passes through, `NULL` (CH's
    * explicit Nullable marker) drops, CODEC/COMMENT per-column keep or
    * drop per Spark support; MATERIALIZED/ALIAS/EPHEMERAL throw. */
  private def mapDdlColumn(cd: String): String = {
    val n = cd.length
    val h = topLevel(cd, 0, 1)
    if (!h.isWord(0) && !h.isQuoted(0, '`') && !h.isQuoted(0, '"'))
      throw new IllegalArgumentException(s"CH DDL: unparseable column definition '$cd'")
    val (name, ci) = (h.text(0), h.end(0))
    // type text: up to the first TOP-LEVEL modifier keyword after its
    // first token
    val typeStart = skipSpace(cd, ci)
    val typeEnd =
      if (typeStart < n)
        SqlLexer.clauseEnd(cd, SqlLexer.tokenEnd(cd, typeStart), ddlColModWords)._1
      else n
    val typeText = cd.substring(typeStart, typeEnd).trim
    val sparkType =
      try {
        val t = graft.types.CHType.parse(typeText)
        graft.types.CHType.toSpark(t)._1.sql
      } catch { case scala.util.control.NonFatal(_) => typeText } // let Spark's parser judge
    val sb = new StringBuilder(name + " " + sparkType)
    // modifiers
    var m = typeEnd
    while (m < n) {
      val (w, aw) = nextWord(cd, m)
      if (w.isEmpty) { m = n }
      else w.toUpperCase(java.util.Locale.ROOT) match {
        case "NOT" =>
          val (w2, a2) = nextWord(cd, aw)
          if (!w2.equalsIgnoreCase("NULL"))
            throw new IllegalArgumentException(s"CH DDL: unexpected NOT in '$cd'")
          sb ++= " NOT NULL"; m = a2
        case "NULL" => m = aw // CH explicit-nullable marker; Spark default
        case "DEFAULT" =>
          // expression until the next top-level modifier keyword
          val from = skipSpace(cd, aw)
          val (end, _) = SqlLexer.clauseEnd(cd, from, ddlColModWords - "NULL")
          sb ++= " DEFAULT " + cd.substring(from, end).trim
          m = end
        case "CODEC" => // per-column compression: storage knob, drop
          val q = skipSpace(cd, aw)
          m = if (q < n && cd.charAt(q) == '(') {
            val e = matchParen(cd, q); if (e < 0) n else e
          } else aw
        case "COMMENT" =>
          val q = skipSpace(cd, aw)
          if (q >= n || cd.charAt(q) != '\'')
            throw new IllegalArgumentException(s"CH DDL: COMMENT expects a string in '$cd'")
          val e = SqlLexer.tokenEnd(cd, q)
          sb ++= " COMMENT " + cd.substring(q, e)
          m = e
        case bad @ ("MATERIALIZED" | "ALIAS" | "EPHEMERAL" | "TTL") =>
          throw new IllegalArgumentException(
            s"CH DDL: $bad columns have no Spark analog — compute the " +
              s"expression in the writing query instead ('$cd')")
        case other =>
          throw new IllegalArgumentException(
            s"CH DDL: unsupported column modifier '$other' in '$cd'")
      }
      m = skipSpace(cd, m)
    }
    sb.toString
  }

  /** Apply captured SETTINGS pairs to the active session through the A15
    * GraftSettings name mapping (CH `max_threads` → shuffle partitions,
    * etc.). Best-effort like the reference's passthrough: a key Spark
    * rejects (static conf, bad value) is skipped, never fails the query.
    *
    * Scope matches CH's per-query settings (`src/query.rs:71-166`): the
    * touched confs are SNAPSHOTTED here and restored when the execution
    * of `plan` — the rescued parse's plan, matched by reference —
    * completes (one-shot [[QueryExecutionListener]]; another query's
    * execution-end event, a late one from an earlier query included,
    * leaves the scope open) — and, as the synchronous backstop, at the
    * NEXT statement's parse ([[drainPendingSettings]]), which also
    * unwinds a query whose ANALYSIS failed after the rescued parse
    * applied its settings (no execution ever starts there, so no
    * listener would fire) or that runs only as part of a derived query.
    * Either path wins; both are idempotent through the one-shot flag.
    * Residual deviation (documented): between the rescued query's parse
    * and its execution end, the confs are visible session-wide — Spark
    * has no per-query conf context to attach them to. */
  def applySettings(kvs: Seq[(String, String)], plan: AnyRef): Unit =
    org.apache.spark.sql.SparkSession.getActiveSession.foreach { sp =>
      drainPendingSettings(sp) // the previous query's scope ends here at the latest
      if (kvs.isEmpty) return
      val touched = kvs.flatMap { case (k, v) =>
        val key = graft.settings.GraftSettings.sparkKey(k)
        val old = sp.conf.getOption(key)
        try { sp.conf.set(key, v); Some(key -> old) }
        catch { case scala.util.control.NonFatal(_) => None }
      }
      if (touched.nonEmpty) {
        val snap = new SettingsSnapshot(sp, touched, plan)
        pendingSettings.synchronized { pendingSettings.put(sp, snap) }
        sp.listenerManager.register(snap.listener)
      }
    }

  /** One rescued query's conf snapshot + its one-shot restore, fired by
    * the end of `plan`'s own execution. */
  private final class SettingsSnapshot(
      sp: org.apache.spark.sql.SparkSession,
      touched: Seq[(String, Option[String])],
      plan: AnyRef) {
    private val done = new java.util.concurrent.atomic.AtomicBoolean(false)
    val listener: org.apache.spark.sql.util.QueryExecutionListener =
      new org.apache.spark.sql.util.QueryExecutionListener {
        override def onSuccess(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
          if (qe.logical eq plan) restore()
        override def onFailure(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution, exception: Exception): Unit =
          if (qe.logical eq plan) restore()
      }
    def restore(): Unit = if (done.compareAndSet(false, true)) {
      touched.foreach { case (key, old) =>
        try old match {
          case Some(v) => sp.conf.set(key, v)
          case None => sp.conf.unset(key)
        } catch { case scala.util.control.NonFatal(_) => () }
      }
      try sp.listenerManager.unregister(listener)
      catch { case scala.util.control.NonFatal(_) => () }
    }
  }

  /** Session → latest unrestored SETTINGS snapshot. Weak keys: a
    * stopped-and-collected session drops its pending snapshot. */
  private val pendingSettings =
    new java.util.WeakHashMap[org.apache.spark.sql.SparkSession, SettingsSnapshot]()

  /** Synchronously close any still-open per-query settings scope — called
    * from every statement parse, so a SETTINGS conf never survives into
    * the next statement even when no execution listener fired (failed
    * analysis, async listener lag). */
  def drainPendingSettings(sp: org.apache.spark.sql.SparkSession): Unit = {
    val snap = pendingSettings.synchronized { pendingSettings.remove(sp) }
    if (snap != null) snap.restore()
  }

  /** CH `join_algorithm` values → the Spark join-strategy hint that picks
    * the same physical shape (the `b_jn11`/`b_jn15` lever). */
  private def joinHintFor(raw: String): Option[String] =
    unquote(raw).toLowerCase(java.util.Locale.ROOT) match {
      case "hash" | "parallel_hash" | "grace_hash" => Some("SHUFFLE_HASH")
      case "full_sorting_merge" | "partial_merge" => Some("MERGE")
      case "direct" => Some("BROADCAST") // key-lookup join: broadcast is the Spark analog
      case _ => None // auto/default: leave strategy choice to the planner
    }

  private def unquote(v: String): String =
    if (v.length >= 2 && v.head == '\'' && v.last == '\'')
      v.substring(1, v.length - 1).replace("''", "'")
    else v

  /** Insert `/&#42;+ hint(relations…) &#42;/` after the first top-level
    * SELECT keyword in code. Join-strategy hints only take effect on
    * NAMED relations (a parameterless hint wraps the whole plan and
    * never reaches an inner join's sides), so the hint lists every table
    * referenced after a FROM/JOIN token; names a relation doesn't match
    * are ignored by Spark with a warning. */
  private def injectHint(sql: String, hint: String): String = {
    val rels = collectRelationNames(sql)
    if (rels.isEmpty) return sql
    val hintText = s"$hint(${rels.mkString(", ")})"
    // depth 0: a WITH-CTE query's first SELECT lives inside the CTE
    // parens — the hint must land on the MAIN query's SELECT
    firstSite(sql) { w =>
      if (w.depth == 0 && w.isWord("SELECT"))
        Some(sql.substring(0, w.end) + s" /*+ $hintText */" + sql.substring(w.end))
      else None
    }.getOrElse(sql)
  }

  /** Unqualified table names following FROM/JOIN tokens (subqueries skip
    * the paren; their inner FROM is picked up as the scan continues). */
  private def collectRelationNames(sql: String): Seq[String] = {
    val out = scala.collection.mutable.LinkedHashSet.empty[String]
    val w = new Walk(sql)
    while (w.nextCode()) if (w.isWord("FROM") || w.isWord("JOIN")) {
      val p = skipSpace(sql, w.end)
      if (p < sql.length && sql.charAt(p) != '(')
        SqlLexer.qualifiedName(sql, p).foreach { case (e, last) => out += last; w.jump(e) }
    }
    out.toSeq
  }

  /** The client-side tail clauses of a query, read from its last top-level
    * tokens and cut with the comments around them; returns the rest and
    * the SETTINGS pairs (values unquoted). From the end:
    *  - `FORMAT name` — the output format is a CLIENT concern in CH (a
    *    DataFrame here);
    *  - `INTO OUTFILE 'path' [AND STDOUT] [APPEND|TRUNCATE]` — file output
    *    is client-side in CH too (the server streams normally); the
    *    caller writes the DataFrame;
    *  - `SETTINGS k = v [, …]` (the reference passes the clause inside the
    *    query string, `src/query.rs:168-197`; typed registry
    *    `src/settings.rs:81-428`); a value is one '…' literal or a run of
    *    touching words, numbers, `.`, `+` and `-`.
    * Rescue-only: `SELECT * FROM t ORDER BY format DESC` is valid Spark
    * SQL with a FORMAT-shaped tail, so no strip runs on text Spark
    * accepted. */
  private def stripTail(sql: String): (String, Seq[(String, String)]) = {
    val c = topLevel(sql)
    var last = c.size - 1
    if (last >= 2 && c.isWord(last - 1, "FORMAT") && c.isWord(last)) last -= 2
    var o = last
    while (c.isWord(o, "APPEND") || c.isWord(o, "TRUNCATE") ||
      (c.isWord(o, "STDOUT") && c.isWord(o - 1, "AND")))
      o -= (if (c.isWord(o, "STDOUT")) 2 else 1)
    if (o >= 3 && c.isQuoted(o, '\'') && c.isWord(o - 1, "OUTFILE") && c.isWord(o - 2, "INTO"))
      last = o - 3
    (1 until last).iterator.filter(c.isWord(_, "SETTINGS"))
      .map(i => i -> settingsPairs(c, i + 1, last)).collectFirst { case (i, Some(kvs)) =>
        (c.cut(i), kvs)
      }.getOrElse((c.cut(last + 1), Nil))
  }

  /** `k = v [, …]` spanning exactly tokens `from` to `last`. */
  private def settingsPairs(c: Code, from: Int, last: Int): Option[Seq[(String, String)]] = {
    def valuePart(i: Int) = c.isWord(i) || c.isNumber(i) ||
      c.isSym(i, '.') || c.isSym(i, '+') || c.isSym(i, '-')
    val out = Seq.newBuilder[(String, String)]
    var k = from
    while (k + 2 <= last && c.isWord(k) && c.isSym(k + 1, '=')) {
      val v = k + 2
      var e = v + 1
      if (!c.isQuoted(v, '\'')) {
        if (!valuePart(v)) return None
        while (e <= last && valuePart(e) && c.adjacent(e - 1)) e += 1
      }
      out += c.text(k) -> unquote(c.s.substring(c.start(v), c.end(e - 1)))
      if (e > last) return Some(out.result())
      if (!c.isSym(e, ',')) return None
      k = e + 1
    }
    None
  }

  // ------------------------------------------------------------- SAMPLE k

  /** CH `FROM t SAMPLE k` needs the table's declared sampling key (CH
    * errors without one in the DDL; we mirror that contract with an
    * explicit registry). The rewrite is the deterministic md5-prefix
    * filter `b_smp1_hash_sample` established: P(md5_hex4(key) < t) =
    * t/65536, reproducible and identical across engines. */
  private val sampleKeys =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  def registerSampleKey(table: String, keyExpr: String): Unit =
    sampleKeys.put(table.toLowerCase(java.util.Locale.ROOT), keyExpr)

  private def parseFraction(num: String): Option[Double] =
    if (num.contains('/')) {
      val parts = num.split('/')
      if (parts.length == 2)
        try {
          val d = parts(1).trim.toDouble
          if (d == 0) None else Some(parts(0).trim.toDouble / d)
        } catch { case _: NumberFormatException => None }
      else None
    } else try Some(num.toDouble) catch { case _: NumberFormatException => None }


  private def rewriteSample(sql: String): String = spliceAll(sql) { w =>
    val s = w.s
    lazy val identStart = skipSpace(s, w.end)
    if (!w.isWord("FROM")) None
    else SqlLexer.qualifiedName(s, identStart).flatMap { case (identEnd, lastPart) =>
      val (w2, afterW2) = nextWord(s, identEnd)
      if (!w2.equalsIgnoreCase("SAMPLE")) None
      else {
        val numStart = skipSpace(s, afterW2)
        var r = numStart
        while (r < s.length && (Character.isDigit(s.charAt(r)) ||
          s.charAt(r) == '.' || s.charAt(r) == '/')) r += 1
        parseFraction(s.substring(numStart, r)) match {
          case Some(f) if f > 0 && f < 1 =>
            val tableSql = s.substring(identStart, identEnd)
            val key = Option(sampleKeys.get(lastPart.toLowerCase(java.util.Locale.ROOT)))
              .getOrElse(throw new IllegalArgumentException(
                s"SAMPLE: no sampling key declared for table '$lastPart' — " +
                  "register one with graft.functions.ChSqlRewrite.registerSampleKey" +
                  "(table, keyExpr) (ClickHouse likewise requires SAMPLE BY in the DDL)"))
            val threshold = f"${math.floor(f * 65536).toInt}%04x"
            val repl = s"(SELECT * FROM $tableSql WHERE substring(md5(" +
              s"CAST($key AS STRING)), 1, 4) < '$threshold') $lastPart"
            Some(s.substring(0, identStart) + repl + s.substring(r))
          case _ => None // SAMPLE n (approx row count) unsupported: fail loudly
        }
      }
    }
  }

  // ----------------------------------------------------------- ARRAY JOIN

  /** CH `FROM t [LEFT] ARRAY JOIN item [, item ...]` → LATERAL VIEW.
    *
    *   - one `expr AS alias` item: `LATERAL VIEW explode[_outer](expr)
    *     ch_aj_ AS alias` (unchanged from round 5);
    *   - multiple items (CH zips POSITIONALLY — chained explodes would
    *     cross-product): the first array drives `posexplode[_outer]`,
    *     every further element is the shared index into its array
    *     (`get` — NULL out of bounds, never an ANSI error):
    *     `LATERAL VIEW posexplode(a) ch_aj_0 AS ch_aj_pos_, x
    *      LATERAL VIEW explode(array(get(b, ch_aj_pos_))) ch_aj_1 AS y`.
    *     Unequal lengths yield NULL elements (CH errors unless
    *     `enable_unaligned_array_join` — documented deviation);
    *   - any item WITHOUT an `AS alias` bails → loud parse failure,
    *     never silent wrongness. (CH's bare form REPLACES the source
    *     column with its element — a self-aliased LATERAL VIEW is an
    *     AMBIGUOUS_REFERENCE in Spark, so there is no faithful textual
    *     rewrite; spell `ARRAY JOIN arr AS arr_elem`.)
    */
  private val arrayJoinStops = Set("WHERE", "GROUP", "HAVING", "ORDER", "LIMIT", "OFFSET",
    "SETTINGS", "FORMAT", "UNION", "INTERSECT", "EXCEPT", "WINDOW", "QUALIFY",
    "JOIN", "LEFT", "RIGHT", "FULL", "INNER", "CROSS")

  /** `expr AS alias` — an ARRAY JOIN or star REPLACE item: (expr, alias)
    * when its last top-level tokens are AS and a word or `…` name. */
  private def asAlias(item: String): Option[(String, String)] = {
    val c = topLevel(item)
    val n = c.size
    if (n >= 3 && c.isWord(n - 2, "AS") && (c.isWord(n - 1) || c.isQuoted(n - 1, '`')))
      Some(item.substring(c.start(0), c.end(n - 3)) -> c.text(n - 1))
    else None
  }

  private def rewriteArrayJoin(sql: String): String = spliceAll(sql)(arrayJoinAt)

  private def arrayJoinAt(w: Walk): Option[String] = {
    val sql = w.s
    val left = w.isWord("LEFT")
    if (!left && !w.isWord("ARRAY")) return None
    var p = w.end
    if (left) {
      val (word, after) = nextWord(sql, p)
      if (!word.equalsIgnoreCase("ARRAY")) return None
      p = after
    }
    val (join, afterJoin) = nextWord(sql, p)
    if (!join.equalsIgnoreCase("JOIN")) return None
    // the comma-separated item list, up to a top-level stop word or the
    // closer of the enclosing level
    val items = scala.collection.mutable.ListBuffer.empty[(String, String)]
    val it = new Walk(sql, afterJoin)
    var itemStart = -1
    var itemEnd = -1
    var listEnd = -1
    while (listEnd < 0) {
      val more = it.nextCode()
      val atEnd = !more || it.closesScope ||
        (it.depth == 0 && it.kind == SqlLexer.Word && arrayJoinStops.contains(it.upper))
      if (atEnd || (it.depth == 0 && it.isSym(','))) {
        if (itemStart < 0) return None
        items += asAlias(lift(sql, itemStart, itemEnd)).getOrElse(return None)
        itemStart = -1
        if (atEnd) listEnd = if (more) it.start else sql.length
      } else {
        if (itemStart < 0) itemStart = it.start
        itemEnd = it.end
      }
    }
    val repl =
      if (items.length == 1) {
        val (e0, a0) = items.head
        val fn = if (left) "explode_outer" else "explode"
        // CH ARRAY JOIN over a MAP: the element is a (key, value) tuple
        // read as `m.key`/`m.value` (reference tests/arrow.rs map case).
        // Spark's map explode emits exactly those two columns — when the
        // query reads the alias THAT way, emit the bare generator alias
        // so key/value surface under it; the bare-alias array reading
        // keeps the AS form.
        if (readsKeyValue(sql, a0.stripPrefix("`").stripSuffix("`")))
          s"LATERAL VIEW $fn($e0) $a0 "
        else s"LATERAL VIEW $fn($e0) ch_aj_ AS $a0 "
      } else {
        val (e0, a0) = items.head
        val fn = if (left) "posexplode_outer" else "posexplode"
        val head = s"LATERAL VIEW $fn($e0) ch_aj_0 AS ch_aj_pos_, $a0 "
        val rest = items.toList.zipWithIndex.drop(1).map { case ((e, a), j) =>
          s"LATERAL VIEW explode(array(get($e, ch_aj_pos_))) ch_aj_$j AS $a "
        }
        head + rest.mkString
      }
    Some(sql.substring(0, w.start) + repl + sql.substring(listEnd))
  }

  /** True when `alias.key` or `alias.value` appears in code. */
  private def readsKeyValue(sql: String, alias: String): Boolean = {
    val w = new Walk(sql)
    while (w.nextCode()) if (w.isWord(alias)) {
      val c = topLevel(sql, w.end, 2)
      if (c.isSym(0, '.') && (c.isWord(1, "key") || c.isWord(1, "value"))) return true
    }
    false
  }

  // ----------------------------------------------------------- ASOF JOIN

  /** CH `[LEFT] ASOF JOIN r ON equi... AND l.ts >= r.ts` (also spelled
    * `ASOF LEFT JOIN`): latest right row per left row under the ON
    * clause's single inequality. Rewrites onto a correlated LATERAL
    * subquery with ORDER BY + LIMIT 1, which Catalyst decorrelates into
    * the same window-over-join shape as the API form
    * (`AsOfJoin.leftAsOf`); an INNER asof becomes CROSS JOIN LATERAL
    * (an empty probe drops the row — CH inner-asof semantics).
    *
    * Always-on of necessity: `FROM l ASOF JOIN r` PARSES in Spark (alias
    * `asof` + plain join) with silently different semantics, so leaving
    * the text alone on a malformed ON clause is not an option — a
    * matched `ASOF ... JOIN ... ON` whose condition lacks exactly one
    * usable inequality THROWS instead. Residual (the documented ARRAY
    * JOIN class): a table alias LITERALLY named `asof`/`any` directly
    * before JOIN takes the CH reading — rewritten when its ON clause
    * fits the probe shape, a loud error when it doesn't — because CH
    * spellings mean what CH means here; rename such an alias to keep
    * Spark's reading. */
  private def rewriteAsofJoin(sql: String): String =
    everySite(sql)(lateralJoinSite(_, ordered = true))

  /** CH `[LEFT] ANY JOIN r ON equi-conds` (also `ANY LEFT JOIN`): at
    * most ONE right match per left row, the pick arbitrary — exactly a
    * LATERAL `LIMIT 1` probe without an ordering clause. Shares the
    * ASOF machinery and its always-on/loud-failure contract (`FROM l
    * ANY JOIN r` parses in Spark as an alias + plain join, silently
    * multiplying matched rows). `ANY RIGHT JOIN` (right-side
    * deduplication against the left) has no lateral analog and fails
    * loudly. */
  private def rewriteAnyJoin(sql: String): String =
    everySite(sql)(lateralJoinSite(_, ordered = false))

  /** The first ASOF (`ordered`) or ANY join phrase of `sql`, rewritten:
    * `KW [LEFT|INNER] JOIN` or `LEFT KW JOIN`. */
  private def lateralJoinSite(sql: String, ordered: Boolean): Option[String] = {
    val kw = if (ordered) "ASOF" else "ANY"
    val w = new Walk(sql)
    var prevIdent = "" // last plain identifier before the join phrase —
    //                    the left relation's alias for the USING form
    while (w.nextCode()) {
      if (w.kind == SqlLexer.Word) {
        if (w.isWord(kw) || w.isWord("LEFT")) {
          val c = topLevel(sql, w.start, 3)
          if (!ordered && c.isWord(0, kw) && c.isWord(1, "RIGHT") && c.isWord(2, "JOIN"))
            throw new IllegalArgumentException(
              "ANY RIGHT JOIN is not supported: spell it as a LEFT-side " +
                "ANY join from the other table")
          val join =
            if (c.isWord(0, kw) && c.isWord(1, "JOIN")) 1
            else if (c.isWord(2, "JOIN") && ((c.isWord(0, "LEFT") && c.isWord(1, kw)) ||
              (c.isWord(0, kw) && (c.isWord(1, "LEFT") || c.isWord(1, "INNER"))))) 2
            else -1
          val left = c.isWord(0, "LEFT") || c.isWord(1, "LEFT")
          if (join > 0) return Some(lateralJoin(sql, w.start, c.end(join), left, ordered, prevIdent))
        }
        prevIdent = w.text
      } else if (w.kind != SqlLexer.Literal) prevIdent = ""
    }
    None
  }

  /** Shared LATERAL-probe builder for the join phrase starting at
    * `phraseStart` whose JOIN keyword ends at `joinEnd`: `ordered =
    * true` is ASOF (single inequality picks the ordering column +
    * direction), `false` is ANY (arbitrary single match, no ORDER BY).
    * `leftAlias` (the identifier directly before the join phrase)
    * qualifies the left side of a USING list. */
  private def lateralJoin(
      sql: String, phraseStart: Int, joinEnd: Int, left: Boolean,
      ordered: Boolean, leftAlias: String): String = {
    val n = sql.length
    def fail(why: String): Nothing =
      throw new IllegalArgumentException(
        if (ordered)
          s"ASOF JOIN: $why (CH asof needs `ON equi-conds AND one inequality " +
            "between the two sides' ordering columns`)"
        else s"ANY JOIN: $why")
    // ---- right relation: (subquery) or qualified ident, optional alias
    val relStart = skipSpace(sql, joinEnd)
    var lastPart = ""
    val relNameEnd =
      if (relStart < n && sql.charAt(relStart) == '(') {
        val e = matchParen(sql, relStart)
        if (e < 0) fail("unbalanced parenthesis in the right relation")
        e
      } else SqlLexer.qualifiedName(sql, relStart) match {
        case Some((e, last)) => lastPart = last; e
        case None => fail("could not read the right relation")
      }
    // optional [AS] alias
    var alias = lastPart
    var relEnd = relNameEnd
    val (wa, aa) = nextWord(sql, relNameEnd)
    if (wa.equalsIgnoreCase("AS")) {
      val (wb, ab) = nextWord(sql, aa)
      if (wb.isEmpty) fail("dangling AS after the right relation")
      alias = wb; relEnd = ab
    } else if (wa.nonEmpty && !wa.equalsIgnoreCase("ON")) {
      alias = wa; relEnd = aa
    }
    if (alias.isEmpty) fail("a subquery right side needs an alias")
    val relText = lift(sql, relStart, relEnd)
    // ---- ON <cond>  |  USING (k1, ..., ts)
    val (onWord, afterOn) = nextWord(sql, relEnd)
    val (cond, condEnd): (String, Int) =
      if (onWord.equalsIgnoreCase("USING")) {
        // CH `ASOF JOIN r USING (k1, ..., ts)`: every column but the
        // LAST is an equality, the last is the `l.ts >= r.ts` match
        // (for ANY all are equalities). Both sides keep their columns
        // (CH merges USING columns — documented deviation; select
        // explicitly). Needs the left relation's alias to qualify.
        val q = skipSpace(sql, afterOn)
        if (q >= n || sql.charAt(q) != '(') fail("USING expects a column list")
        val (list, e) = parenAfter(sql, q).getOrElse(fail("unbalanced USING list"))
        val cols = splitTopLevel(list).map(_.trim)
        if (cols.exists(c => c.isEmpty || !c.forall(Character.isJavaIdentifierPart)))
          fail("USING supports plain column names")
        if (leftAlias.isEmpty || joinStops.contains(
          leftAlias.toUpperCase(java.util.Locale.ROOT)))
          fail("USING needs a named/aliased left relation directly before " +
            "the join — or spell the condition with ON")
        val eqs = (if (ordered) cols.dropRight(1) else cols)
          .map(c => s"$leftAlias.$c = $alias.$c")
        val terms =
          if (ordered) eqs :+ s"$leftAlias.${cols.last} >= $alias.${cols.last}"
          else eqs
        (terms.mkString(" AND "), e)
      } else {
        if (!onWord.equalsIgnoreCase("ON")) fail("expected ON or USING after the right relation")
        val condStart = skipSpace(sql, afterOn)
        val (ce, _) = SqlLexer.clauseEnd(sql, condStart, joinStops)
        (lift(sql, condStart, ce).trim, ce)
      }
    if (cond.isEmpty) fail("empty join condition")
    // ---- ASOF: locate the single top-level inequality → ordering clause
    val orderClause =
      if (!ordered) ""
      else {
        val ineqs = topLevelInequalities(cond)
        if (ineqs.isEmpty) fail("no inequality in the ON condition")
        if (ineqs.length > 1) fail("more than one inequality in the ON condition")
        val (opStart, op) = ineqs.head
        val (termL, termR) = splitIneqTerm(cond, opStart, op)
        val lRefs = refersToAlias(termL, alias)
        val rRefs = refersToAlias(termR, alias)
        if (lRefs == rRefs)
          fail(s"exactly one side of `$termL ${op} $termR` must reference the right alias `$alias`")
        val rightExpr = if (rRefs) termR else termL
        // backward asof (latest right at-or-before left) sorts the right
        // ordering column DESC; forward sorts ASC
        val backward =
          (rRefs && (op == ">=" || op == ">")) || (lRefs && (op == "<=" || op == "<"))
        s"ORDER BY $rightExpr ${if (backward) "DESC" else "ASC"} "
      }
    val joinKw = if (left) "LEFT JOIN" else "CROSS JOIN"
    val repl = s"$joinKw LATERAL (SELECT * FROM $relText WHERE $cond " +
      s"${orderClause}LIMIT 1) $alias"
    val suffix = if (condEnd < n) " " + sql.substring(condEnd) else ""
    sql.substring(0, phraseStart) + repl + suffix
  }

  /** A join ON condition ends at the first top-level clause stop or join
    * keyword, or at the `)` closing the enclosing scope. */
  // lazy: `clauseStops` is declared further down the object body
  private lazy val joinStops = clauseStops ++ Set("JOIN", "LEFT", "RIGHT", "FULL",
    "INNER", "CROSS", "ASOF", "ANY", "GLOBAL", "ARRAY", "LATERAL", "ANTI", "SEMI")

  /** Positions of depth-0 inequality operators (`>=`, `<=`, `>`, `<`) in
    * `cond`, excluding `<>`, `->` arrows, and shift-like contexts. */
  private def topLevelInequalities(cond: String): List[(Int, String)] = {
    val out = scala.collection.mutable.ListBuffer.empty[(Int, String)]
    val w = new Walk(cond)
    while (w.nextCode()) if (w.depth == 0 && (w.isSym('>') || w.isSym('<'))) {
      val i = w.start
      val c = w.char
      val prev = if (i > 0) cond.charAt(i - 1) else ' '
      val next = if (i + 1 < cond.length) cond.charAt(i + 1) else ' '
      if (prev == '-' || (c == '<' && next == '>')) { if (next == '>') w.next() }
      else if (next == '=') { out += ((i, s"$c=")); w.next() }
      else out += ((i, s"$c"))
    }
    out.toList
  }

  /** True when `term` contains the alias as a QUALIFIER token — a whole
    * identifier equal to `alias` immediately followed by `.` — not a
    * raw-substring hit (alias `p` must not match inside `leap.ts`). */
  private def refersToAlias(term: String, alias: String): Boolean = {
    val w = new Walk(term)
    var afterDot = false // a part inside `a.p.x` is no qualifier
    while (w.nextCode()) {
      if (!afterDot && w.isWord(alias) && topLevel(term, w.end, 1).isSym(0, '.')) return true
      afterDot = w.isSym('.')
    }
    false
  }

  /** The two operand texts of the inequality at `opStart`, delimited by
    * the nearest top-level `AND`s (or the condition's ends). */
  private def splitIneqTerm(cond: String, opStart: Int, op: String): (String, String) = {
    var termStart = 0
    var termEnd = cond.length
    val w = new Walk(cond)
    while (w.nextCode()) if (w.depth == 0 && w.isWord("AND")) {
      if (w.end <= opStart) termStart = w.end
      else if (w.start >= opStart && termEnd == cond.length) termEnd = w.start
    }
    (cond.substring(termStart, opStart).trim,
      cond.substring(opStart + op.length, termEnd).trim)
  }

  // -------------------------------------------------------------- GLOBAL

  /** CH distribution hints (`GLOBAL JOIN` ships the right side to every
    * node; Spark's planner owns distribution, so the keyword drops).
    * The join subset parses in Spark as a table alias named `global` —
    * always-on with the documented ARRAY JOIN-class residual. The wide
    * set (IN/NOT/ANY/ALL/ASOF/SEMI/ANTI) never parses, so it only runs
    * in rescue where the text is already rejected. */
  private val globalJoinWords = Set("JOIN", "INNER", "LEFT", "RIGHT", "FULL", "CROSS")
  private val globalWideWords =
    globalJoinWords ++ Set("IN", "NOT", "ANY", "ALL", "ASOF", "SEMI", "ANTI")

  private def rewriteGlobal(sql: String, followers: Set[String]): String =
    spliceAll(sql) { w =>
      lazy val p = skipSpace(w.s, w.end)
      lazy val next = wordAt(w.s, p)._1
      if (w.isWord("GLOBAL") && next.nonEmpty && followers.contains(next.toUpperCase))
        Some(w.s.substring(0, w.start) + w.s.substring(p))
      else None
    }

  // ----------------------------------------------------------- dateDiff

  /** CH `dateDiff('unit', s, e)` / `date_diff('unit', s, e)`: the quoted
    * unit makes Spark's grammar-level datediff form reject the text, so
    * this is rescue-reachable. CH defines dateDiff as
    * `toRelative<Unit>Num(e) − toRelative<Unit>Num(s)` (calendar-BOUNDARY
    * counting, not elapsed periods) and those primitives are registered
    * in ChDialect — the rewrite is CH-faithful by construction. A 2-arg
    * Spark `datediff(a, b)` inside otherwise-failing text is untouched
    * (the first arg must be a quoted unit literal). */
  private val dateDiffUnits = Map(
    "second" -> "Second", "minute" -> "Minute", "hour" -> "Hour",
    "day" -> "Day", "week" -> "Week", "month" -> "Month",
    "quarter" -> "Quarter", "year" -> "Year")

  private def rewriteDateDiff(sql: String): String = spliceAll(sql) { w =>
    if (!w.isWord("datediff") && !w.isWord("date_diff")) None
    else parenAfter(w.s, w.end).flatMap { case (inside, e) =>
      val args = splitTopLevel(inside)
      val u = args.head.trim
      if (args.length != 3 || u.length < 3 || u.head != '\'' || u.last != '\'') None
      else dateDiffUnits.get(u.substring(1, u.length - 1).toLowerCase(java.util.Locale.ROOT))
        .map { cu =>
          w.s.substring(0, w.start) +
            s"(toRelative${cu}Num(${args(2).trim}) - " +
            s"toRelative${cu}Num(${args(1).trim}))" +
            w.s.substring(e)
        }
    }
  }

  // -------------------------------------------------------- FETCH FIRST

  /** Standard-SQL fetch clause, which CH accepts and Spark does not:
    * `[OFFSET o ROW[S]] FETCH FIRST|NEXT m ROW[S] ONLY` (query tail) →
    * `LIMIT m [OFFSET o]`. Rescue-tier; `WITH TIES` fails loudly (no
    * faithful LIMIT form — use the rank()<=n window, b_lim3). The clause
    * is the text's last top-level tokens; the cut takes the comments
    * around it along, so the appended LIMIT is never commented out. */
  private def rewriteFetchFirst(sql: String): String = {
    val c = topLevel(sql)
    val ties = c.isWord(c.size - 2, "WITH") && c.isWord(c.size - 1, "TIES")
    val rows = if (ties) c.size - 3 else if (c.isWord(c.size - 1, "ONLY")) c.size - 2 else -1
    def isRows(i: Int) = c.isWord(i, "ROW") || c.isWord(i, "ROWS")
    val fetch = rows - 3
    if (!isRows(rows) || !c.isInt(rows - 1) ||
      !(c.isWord(rows - 2, "FIRST") || c.isWord(rows - 2, "NEXT")) || !c.isWord(fetch, "FETCH"))
      return sql
    if (ties)
      throw new org.apache.spark.sql.AnalysisException(
        errorClass = "_LEGACY_ERROR_TEMP_3100",
        messageParameters = Map("message" ->
          ("graft: FETCH FIRST ... WITH TIES has no faithful LIMIT " +
            "rewrite; use the rank()<=n window form (b_lim3)")))
    val offset = isRows(fetch - 1) && c.isInt(fetch - 2) && c.isWord(fetch - 3, "OFFSET")
    val cut = if (offset) fetch - 3 else fetch
    lift(sql, 0, c.cutBefore(cut)) + s" LIMIT ${c.text(rows - 1)}" +
      (if (offset) s" OFFSET ${c.text(fetch - 2)}" else "")
  }

  // ----------------------------------------------------------------- TOP

  /** CH `SELECT [DISTINCT] TOP n …` → the same query with ` LIMIT n`
    * appended. Rescue-tier (the phrase never parses in Spark: an
    * identifier followed by an integer is not a select list), and
    * deliberately narrow: only the top-level SELECT is rewritten — a TOP
    * inside a subquery, a TOP combined with an existing LIMIT, or CH's
    * `TOP n WITH TIES` fail loudly rather than guess placement (use
    * LIMIT / the b_lim3 window form). */
  private def rewriteTop(sql: String): String = firstSite(sql)(topAt).getOrElse(sql)

  private def topAt(w: Walk): Option[String] = {
    if (!w.isWord("SELECT")) return None
    val sql = w.s
    def refuse(why: String): Nothing =
      throw new org.apache.spark.sql.AnalysisException(
        errorClass = "_LEGACY_ERROR_TEMP_3100",
        messageParameters = Map("message" -> s"graft: $why"))
    val c = topLevel(sql, w.end, 5)
    val t = if (c.isWord(0, "DISTINCT") || c.isWord(0, "ALL")) 1 else 0
    if (!c.isWord(t, "TOP") || !c.isInt(t + 1)) return None
    if (c.isWord(t + 2, "WITH") && c.isWord(t + 3, "TIES"))
      refuse("TOP n WITH TIES has no faithful LIMIT rewrite; " +
        "use the rank()<=n window form (b_lim3)")
    if (w.depth > 0) refuse("TOP inside a subquery is not supported; use LIMIT")
    // a set operation makes "append LIMIT at the end" wrong: CH scopes
    // TOP to its own SELECT arm, the appended LIMIT would cap the whole
    // union — refuse rather than mis-scope
    if (Seq("UNION", "INTERSECT", "EXCEPT").exists(SqlLexer.hasWord(sql, _, topLevel = true)))
      refuse("TOP in a set-operation arm is not supported; use LIMIT on the arm")
    // only a TOP-LEVEL limit conflicts; a derived table's LIMIT (or a
    // quoted 'limit') must not trip this
    if (SqlLexer.hasWord(sql, "LIMIT", topLevel = true))
      refuse("TOP cannot combine with LIMIT (same as ClickHouse)")
    Some(lift(sql.substring(0, c.start(t)) + sql.substring(c.at(t + 2))) + s" LIMIT ${c.text(t + 1)}")
  }

  // --------------------------------------------------------------- FINAL

  /** `FROM t FINAL` (ReplacingMergeTree read-time dedup) needs the
    * table's dedup key + version order, exactly as SAMPLE needs a
    * sampling key (both live in the CH table DDL); tables opt in via
    * [[registerFinalKey]]. Unregistered tables keep Spark's reading of
    * `FINAL` as a plain alias, so the always-on pass stays safe. */
  private val finalKeys =
    new java.util.concurrent.ConcurrentHashMap[String, (String, String)]()

  /** @param partitionCols SQL text for the dedup key, e.g. "user_id, event_type"
    * @param versionOrder  SQL sort text picking the SURVIVING row FIRST,
    *                      e.g. "ts DESC, event_id DESC" */
  def registerFinalKey(table: String, partitionCols: String, versionOrder: String): Unit =
    finalKeys.put(table.toLowerCase(java.util.Locale.ROOT), (partitionCols, versionOrder))

  private def rewriteFinal(sql: String): String = spliceAll(sql) { w =>
    val s = w.s
    lazy val identStart = skipSpace(s, w.end)
    if (!w.isWord("FROM")) None
    else SqlLexer.qualifiedName(s, identStart).flatMap { case (identEnd, lastPart) =>
      val (w2, afterW2) = nextWord(s, identEnd)
      val keys =
        if (w2.equalsIgnoreCase("FINAL")) finalKeys.get(lastPart.toLowerCase(java.util.Locale.ROOT))
        else null
      Option(keys).map { case (parts, ord) =>
        val tableSql = s.substring(identStart, identEnd)
        val repl = s"(SELECT * EXCEPT (ch_fin_rn_) FROM (SELECT *, " +
          s"row_number() OVER (PARTITION BY $parts ORDER BY $ord) " +
          s"AS ch_fin_rn_ FROM $tableSql) ch_fin_i_ " +
          s"WHERE ch_fin_rn_ = 1) $lastPart"
        s.substring(0, identStart) + repl + s.substring(afterW2)
      }
    }
  }

  // ------------------------------------------------------------- PREWHERE

  private val clauseStops = Set("WHERE", "GROUP", "HAVING", "ORDER", "LIMIT",
    "OFFSET", "SETTINGS", "FORMAT", "UNION", "INTERSECT", "EXCEPT", "WINDOW",
    "QUALIFY")

  /** CH `PREWHERE c` is a scan-order optimization whose observable
    * semantics are a plain conjunction with WHERE (ClickHouse docs;
    * Catalyst's predicate pushdown already plays the physical role).
    * `PREWHERE c WHERE d` → `WHERE (c) AND (d)`; alone → `WHERE c`. */
  private def rewritePrewhere(sql: String): String = spliceAll(sql) { w =>
    val s = w.s
    if (!w.isWord("PREWHERE")) None
    else {
      val condStart = skipSpace(s, w.end)
      val (condEnd, stop) = SqlLexer.clauseEnd(s, condStart, clauseStops)
      if (stop == "WHERE") {
        val pre = lift(s, condStart, condEnd).trim
        val wStart = skipSpace(s, wordAt(s, condEnd)._2)
        val (wEnd, _) = SqlLexer.clauseEnd(s, wStart, clauseStops)
        val cond = lift(s, wStart, wEnd).trim
        val sep = if (wEnd < s.length) " " else ""
        Some(s.substring(0, w.start) + s"WHERE ($pre) AND ($cond)$sep" + s.substring(wEnd))
      } else Some(s.substring(0, w.start) + "WHERE" + s.substring(w.end))
    }
  }

  // ---------------------------------------------------------- WITH TOTALS

  /** `GROUP BY k, ... WITH TOTALS` → `GROUP BY GROUPING SETS ((k, ...),
    * ())`: the grand-total row CH appends out-of-band becomes an in-band
    * row with NULL keys (the convention `b_agg11_with_totals`
    * established). Deviation (documented): a HAVING filters the totals
    * row too, where CH's default totals_mode recomputes it. The grouping
    * list ends at a top-level WITH (WITH ROLLUP/CUBE is valid Spark and
    * stays) or clause stop. */
  private val totalsStops = clauseStops + "WITH"

  private def rewriteWithTotals(sql: String): String = spliceAll(sql) { w =>
    val s = w.s
    if (!w.isWord("GROUP")) None
    else {
      val (by, afterBy) = nextWord(s, w.end)
      val listStart = skipSpace(s, afterBy)
      val (found, stop) =
        if (by.equalsIgnoreCase("BY")) SqlLexer.clauseEnd(s, listStart, totalsStops) else (-1, "")
      val (totals, afterTotals) = if (stop == "WITH") nextWord(s, found + 4) else ("", -1)
      if (!totals.equalsIgnoreCase("TOTALS")) None
      else Some(s.substring(0, w.start) +
        s"GROUP BY GROUPING SETS ((${lift(s, listStart, found).trim}), ())" +
        s.substring(afterTotals))
    }
  }

  // ----------------------------------------------------------- numbers(N)

  /** CH's ubiquitous `numbers(N)` / `numbers(offset, N)` table function
    * → Spark's `range` TVF with the column renamed to CH's `number`.
    * Always-on of necessity: the call parses fine and fails only at
    * ANALYSIS (unknown TVF), which the rescue tier never sees. Gated
    * on the session catalog NOT having a function named `numbers`
    * ([[userNumbersTvf]]): built-in Spark has no such TVF, but a user
    * Python UDTF registered under that name must win. */
  private def rewriteNumbers(sql: String): String = spliceAll(sql) { w =>
    val s = w.s
    if (!w.isWord("FROM") && !w.isWord("JOIN")) None
    else {
      val p = skipSpace(s, w.end)
      val (name, afterName) = wordAt(s, p)
      if (!name.equalsIgnoreCase("numbers") || userNumbersTvf) None
      else parenAfter(s, afterName).map { case (inside, e) =>
        // numbers(N) | numbers(offset, N)
        val parts = splitTopLevel(inside.trim)
        val rangeArgs =
          if (parts.length == 1) s"(${parts.head})"
          else s"(${parts.head}), (${parts.head}) + (${parts.tail.mkString(",")})"
        // keep a user-supplied alias; otherwise alias as `numbers`
        val (after, _) = nextWord(s, e)
        val hasUserAlias = after.nonEmpty &&
          !joinStops.contains(after.toUpperCase) &&
          !after.equalsIgnoreCase("ON") && !after.equalsIgnoreCase("USING") &&
          !after.equalsIgnoreCase("SAMPLE")
        val ownAlias = if (hasUserAlias) "" else " numbers"
        s.substring(0, p) + s"(SELECT id AS number FROM range($rangeArgs))$ownAlias" +
          s.substring(e)
      }
    }
  }

  /** The rewrite's "Spark has no SQL TVFs" premise has one exception:
    * Python UDTFs (registrable since 3.5) are callable in FROM. If the
    * active session has a function named `numbers` registered, the
    * user's one wins and the rewrite stands down. */
  private def userNumbersTvf: Boolean =
    org.apache.spark.sql.SparkSession.getActiveSession.exists { sp =>
      try {
        val fid = org.apache.spark.sql.catalyst.FunctionIdentifier("numbers")
        sp.sessionState.tableFunctionRegistry.functionExists(fid) ||
          sp.sessionState.functionRegistry.functionExists(fid)
      } catch { case scala.util.control.NonFatal(_) => false }
    }

  /** CH `untuple(t)` expands a tuple column's fields into top-level
    * result columns. Spark's analog is struct star expansion (`t.*`) —
    * SYNTAX, not a function, so no injectFunction mapping can express
    * it; and `untuple(x)` PARSES fine as a call (dying only at
    * analysis), so the rewrite must be always-on, like ARRAY JOIN.
    * Only a bare or dot-qualified name argument rewrites; any other
    * argument shape (CH allows arbitrary tuple expressions) is left
    * verbatim and still fails loudly — Spark cannot star-expand a
    * computed expression. */
  private def rewriteUntuple(sql: String): String = spliceAll(sql) { w =>
    val s = w.s
    lazy val open = skipSpace(s, w.end)
    if (!w.isWord("untuple") || open >= s.length || s.charAt(open) != '(') None
    else {
      val argStart = skipSpace(s, open + 1)
      SqlLexer.qualifiedName(s, argStart).flatMap { case (argEnd, _) =>
        val close = skipSpace(s, argEnd)
        if (close < s.length && s.charAt(close) == ')')
          Some(s.substring(0, w.start) + s.substring(argStart, argEnd) + ".*" +
            s.substring(close + 1))
        else None
      }
    }
  }

  // ------------------------------------------------------------ * REPLACE

  /** CH `[qual.]* [EXCEPT (cols)] REPLACE (expr AS col, ...)` — Spark's
    * grammar has the EXCEPT star modifier but not REPLACE. Rewrite:
    * `* EXCEPT (existing ++ replaced-names), (expr) AS col, ...` —
    * replaced columns move to the END of the projection (documented
    * deviation, like INTERPOLATE; reference columns by name). */
  private def rewriteStarReplace(sql: String): String = spliceAll(sql) { w =>
    val s = w.s
    if (!w.isSym('*')) None
    else {
      val (exceptCols, afterExcept) = starExcept(s, w.end)
      val (w2, a2) = nextWord(s, afterExcept)
      if (!w2.equalsIgnoreCase("REPLACE")) None
      else parenAfter(s, a2).flatMap { case (inner, e) =>
        replaceItems(inner).map { items =>
          val names = exceptCols ++ items.map(_._2)
          s.substring(0, w.start) + s"* EXCEPT (${names.mkString(", ")}), " +
            items.map { case (ex, nm) => s"($ex) AS $nm" }.mkString(", ") + s.substring(e)
        }
      }
    }
  }

  /** The `EXCEPT (cols)` right after a star ending at `at`: its columns and
    * the index after it, or (Nil, at). */
  private def starExcept(s: String, at: Int): (Seq[String], Int) = {
    val (w1, a1) = nextWord(s, at)
    val list = if (w1.equalsIgnoreCase("EXCEPT")) parenAfter(s, a1) else None
    list.fold((Seq.empty[String], at)) { case (cols, e) => (splitTopLevel(cols).map(_.trim), e) }
  }

  /** The `expr AS col` items of a REPLACE list, or None when one is not. */
  private def replaceItems(inner: String): Option[Seq[(String, String)]] = {
    val items = splitTopLevel(inner).map(asAlias)
    if (items.forall(_.isDefined)) Some(items.flatten) else None
  }

  // -------------------------------------------------------------- * APPLY

  /** CH `[qual.]* [EXCEPT (cols)] [REPLACE (expr AS col, …)] APPLY (f)
    * [APPLY (g)]…` — the third star modifier. Spark's grammar has no
    * APPLY, so the clause reaches the rescue tier; no TEXT rewrite can
    * enumerate the star's columns, so the star travels into a resolver
    * marker — `ch_star_apply('f,g', 'dropped', [qual.]*)`; star
    * expansion inside function arguments is standard Spark — that
    * [[graft.plans.StarApplyRule]] re-expands post-resolution into one
    * `g(f(col)) AS col` per surviving column. REPLACE items (their
    * names are in the text) chain the functions textually and keep the
    * REPLACE rewrite's end-of-projection position. Deviations
    * (documented): columns keep their ORIGINAL names, not CH's
    * `f(col)`, and replaced columns move to the end like REPLACE.
    * Lambda APPLY (`APPLY (x -> …)`) stays a loud parse failure. */
  private def rewriteStarApply(sql: String): String = everySite(sql) { s =>
    val w = new Walk(s)
    // start of the dotted name (words and `…` parts) the walk is in: a
    // qualifier sits IMMEDIATELY before the star (`t.*`, `` `my t`.* ``)
    var chain = -1
    var site: Option[String] = None
    while (site.isEmpty && w.next()) {
      val dotted = chain >= 0 && s.charAt(w.start - 1) == '.'
      if (w.isSym('*')) site = starApplyAt(s, if (dotted) chain else w.start, w.start)
      chain =
        if (w.kind == SqlLexer.Word || (w.kind == SqlLexer.Literal && w.char == '`'))
          if (dotted) chain else w.start
        else if (w.isSym('.') && chain >= 0) chain
        else -1
    }
    site
  }

  private def starApplyAt(s: String, qs: Int, starAt: Int): Option[String] = {
    val qual = s.substring(qs, starAt)
    val (exceptCols, afterExcept) = starExcept(s, starAt + 1)
    // optional REPLACE (expr AS col, …) — consumed only when an APPLY
    // follows (REPLACE alone belongs to rewriteStarReplace)
    var replace = Seq.empty[(String, String)]
    var cur = afterExcept
    val (w2, a2) = nextWord(s, afterExcept)
    if (w2.equalsIgnoreCase("REPLACE"))
      parenAfter(s, a2).foreach { case (inner, e) =>
        replaceItems(inner).foreach { items => replace = items; cur = e }
      }
    // one or more APPLY (fname)
    var fns = Seq.empty[String]
    var more = true
    while (more) {
      more = false
      val (wa, aa) = nextWord(s, cur)
      if (wa.equalsIgnoreCase("APPLY")) parenAfter(s, aa).foreach { case (fn0, e) =>
        val fn = fn0.trim
        if (fn.nonEmpty && fn.forall(ch => Character.isJavaIdentifierPart(ch))) {
          fns = fns :+ fn; cur = e; more = true
        }
      }
    }
    if (fns.isEmpty) return None
    val dropped = exceptCols ++ replace.map(_._2)
    def chain(e: String) = fns.foldLeft(e)((acc, f) => s"$f($acc)")
    val marker = s"ch_star_apply('${fns.mkString(",")}', " +
      s"'${dropped.mkString(",")}', $qual*)"
    val trailing = replace.map { case (ex, nm) => s"${chain(s"($ex)")} AS $nm" }
    Some(s.substring(0, qs) + (marker +: trailing).mkString(", ") + s.substring(cur))
  }

  // ----------------------------------------------------------- scalar WITH

  /** CH's scalar `WITH 5 AS x, expr AS y SELECT ... FROM t` (constants/
    * expressions named before the query — not Spark's subquery CTEs) →
    * a one-row derived relation CROSS JOINed into the main FROM:
    * `SELECT ... FROM (SELECT (5) AS x, (expr) AS y) ch_with_ CROSS JOIN
    * t`, so every alias resolves unqualified at zero cost (a 1-row
    * broadcast side). Real CTEs (`name AS (subquery)`) and mixed forms
    * bail untouched — Spark owns those. Top-level queries only. */
  private val scalarWithStops = Set("AS", "SELECT")

  private def rewriteScalarWith(sql: String): String = {
    val (w0, afterW0) = nextWord(sql, 0)
    if (!w0.equalsIgnoreCase("WITH")) return sql
    var p = skipSpace(sql, afterW0)
    val items = scala.collection.mutable.ListBuffer.empty[(String, String)]
    var selectAt = -1
    while (selectAt < 0) {
      // expr runs to the first top-level AS; a `(` after AS is a real CTE
      val (asAt, stop) = SqlLexer.clauseEnd(sql, p, scalarWithStops)
      val expr = lift(sql, p, asAt).trim
      val c = topLevel(sql, asAt + 2, 2)
      if (stop != "AS" || expr.isEmpty || !c.isWord(0)) return sql
      items += (expr -> c.text(0))
      if (c.isSym(1, ',')) p = skipSpace(sql, c.end(1))
      else if (c.isWord(1, "SELECT")) selectAt = c.start(1)
      else return sql
    }
    val itemSql = items.map { case (e, a) => s"($e) AS $a" }.mkString(", ")
    val rest = sql.substring(selectAt)
    // inject after the main query's first depth-0 FROM; for a FROM-less
    // select, the one-row relation goes BEFORE the first trailing clause
    // (`WITH 5 AS x SELECT x LIMIT 1` must not end `... LIMIT 1 FROM …`)
    var clauseAt = -1
    val w = new Walk(rest)
    while (w.nextCode()) if (w.depth == 0 && w.kind == SqlLexer.Word) {
      if (w.isWord("FROM"))
        return rest.substring(0, w.end) +
          s" (SELECT $itemSql) ch_with_ CROSS JOIN" + rest.substring(w.end)
      if (clauseAt < 0 && clauseStops.contains(w.upper)) clauseAt = w.start
    }
    // no FROM at all: a pure expression SELECT gains the one-row relation
    val at = if (clauseAt < 0) rest.length else clauseAt
    lift(rest, 0, at).stripTrailing() + s" FROM (SELECT $itemSql) ch_with_ " + rest.substring(at)
  }

  // ------------------------------------------------------- CH types in CAST

  /** CH type names inside `CAST(x AS UInt64)` / `x::LowCardinality(String)`
    * → the engine's Spark type mapping (§1.2, `types/CHType.scala`).
    * Rescue-only: an unknown type name is a PARSE error in Spark, and
    * every valid Spark type spelling stays untouched (the CH parser
    * rejects it or maps it to itself). */
  private def chTypeToSpark(text: String): Option[String] =
    try {
      val t = graft.types.CHType.parse(text)
      Some(graft.types.CHType.toSpark(t)._1.sql)
    } catch { case scala.util.control.NonFatal(_) => None }

  private def rewriteChCasts(sql: String): String = spliceAll(sql) { w =>
    val s = w.s
    if (w.isSym(':') && w.end < s.length && s.charAt(w.end) == ':') {
      // x::Type — the type word plus an optional (...) suffix
      val tStart = skipSpace(s, w.end + 1)
      val (tw, afterT) = wordAt(s, tStart)
      val q = skipSpace(s, afterT)
      val e = if (q < s.length && s.charAt(q) == '(') matchParen(s, q) else -1
      val tEnd = if (e > 0) e else afterT
      val typeText = s.substring(tStart, tEnd)
      chTypeToSpark(typeText).filter(spark => tw.nonEmpty && spark != typeText) match {
        case Some(spark) => Some(s.substring(0, tStart) + spark + s.substring(tEnd))
        case None => w.jump(if (tw.isEmpty) w.end + 1 else tEnd); None
      }
    } else if (w.isWord("CAST")) {
      val j = skipSpace(s, w.end)
      val e = if (j < s.length && s.charAt(j) == '(') matchParen(s, j) else -1
      if (e < 0) None
      else {
        val inside = s.substring(j + 1, e - 1)
        // the last top-level AS splits the expression from the type text
        var asAt = -1
        val iw = new Walk(inside)
        while (iw.nextCode()) if (iw.depth == 0 && iw.isWord("AS")) asAt = iw.start
        if (asAt <= 0) None
        else {
          val typeText = lift(inside, asAt + 2, inside.length).trim
          chTypeToSpark(typeText).filter(_ != typeText).map { spark =>
            s.substring(0, j) + "(" + inside.substring(0, asAt + 2) + s" $spark)" + s.substring(e)
          }
        }
      }
    } else None
  }

  // ------------------------------------------------------------ WITH FILL

  /** CH `ORDER BY col WITH FILL [FROM f] [TO t] [STEP s]
    * [INTERPOLATE (cols)]` → generate the axis (`sequence` leaf, no
    * scan) FULL OUTER JOIN the query, so grid gaps materialize as rows
    * and original rows off the grid survive, like CH. `TO` is
    * exclusive, like CH. Non-fill columns are NULL on fill rows (CH
    * fills type defaults — documented deviation; coalesce in the
    * SELECT list for CH's zeros). FROM/TO omitted → bounds derive from
    * min/max of the query itself (one extra aggregate pass over the
    * RESULT, not the fact table). `INTERPOLATE (v)` carries the last
    * ORIGINAL value onto fill rows; interpolated columns move to the
    * END of the output (the `* EXCEPT` rebuild — documented deviation;
    * reference columns by name downstream). DESC fill generates the
    * axis downward (STEP defaults to -1, TO stays exclusive at the
    * bottom, like CH). `INTERPOLATE (col AS expr)` supports CH's
    * recursive self-affine forms — `col AS col + k`, `col - k`,
    * `col * k` (each consecutive fill row applies the step again, so
    * the closed form is carried + n*k resp. carried * k^n over the
    * fill distance n) — and constant exprs; rows before the first
    * original stay NULL (type-default deviation above). Single plain
    * sort column only; an interpolation expression over OTHER columns
    * fails loudly (use the windowed API shape b_fil2). */
  private val fillStops = Set("TO", "STEP", "INTERPOLATE", "LIMIT", "OFFSET",
    "SETTINGS", "FORMAT", "UNION")

  private def rewriteWithFill(sql: String): String = firstSite(sql)(withFillAt).getOrElse(sql)

  private def withFillAt(w: Walk): Option[String] = {
    if (w.depth != 0 || !w.isWord("ORDER")) return None
    val sql = w.s
    val n = sql.length
    // BY, a single plain sort column, [ASC|DESC], then WITH FILL
    val c = topLevel(sql, w.end, 5)
    val desc = c.isWord(2, "DESC")
    val f = if (desc || c.isWord(2, "ASC")) 3 else 2
    if (!c.isWord(0, "BY") || !c.isWord(1) || !c.isWord(f, "WITH") || !c.isWord(f + 1, "FILL"))
      return None
    val col = c.text(1)
    def fail(why: String): Nothing = throw new IllegalArgumentException(s"WITH FILL: $why")
    // FROM/TO/STEP expression tail
    def readExpr(from: Int): (String, Int) = {
      val (end, _) = SqlLexer.clauseEnd(sql, from, fillStops)
      (lift(sql, from, end).trim, end)
    }
    var cur = c.end(f + 1)
    var fromE = ""
    var toE = ""
    var stepE = if (desc) "-1" else "1"
    // (column, kind, payload, payload2): kind ∈ carry | affine
    // (payload = +|-|*, payload2 = numeric literal) | const
    // (payload = the constant expression)
    var interp = Seq.empty[(String, String, String, String)]
    var done = false
    var tailStart = n
    while (!done) {
      val (kw, akw) = nextWord(sql, cur)
      kw.toUpperCase match {
        case "FROM" => val (e, end) = readExpr(skipSpace(sql, akw)); fromE = e; cur = end
        case "TO" => val (e, end) = readExpr(skipSpace(sql, akw)); toE = e; cur = end
        case "STEP" => val (e, end) = readExpr(skipSpace(sql, akw)); stepE = e; cur = end
        case "INTERPOLATE" =>
          val q2 = skipSpace(sql, akw)
          if (q2 >= n || sql.charAt(q2) != '(')
            fail("INTERPOLATE expects a parenthesized list")
          val (list, e2) = parenAfter(sql, q2).getOrElse(fail("unbalanced INTERPOLATE list"))
          interp = splitTopLevel(list).map(_.trim).map(interpolateItem(_, fail))
          cur = e2
        case _ =>
          tailStart = if (kw.isEmpty) n else skipSpace(sql, cur)
          done = true
      }
    }
    if (fromE.isEmpty != toE.isEmpty)
      fail("FROM and TO must be given together (or both omitted " +
        "to derive bounds from the result)")
    val body = lift(sql, 0, w.start).trim
    val tail = if (tailStart < n) " " + sql.substring(tailStart) else ""
    // axis: ascending fills upward with TO exclusive above;
    // descending fills downward with TO exclusive below
    val toCmp = if (desc) ">" else "<"
    val axis =
      if (fromE.nonEmpty)
        s"SELECT ch_fill_x_ AS $col FROM (SELECT explode(sequence(" +
          s"($fromE), ($toE), ($stepE))) AS ch_fill_x_) " +
          s"WHERE ch_fill_x_ $toCmp ($toE)"
      else if (desc)
        s"SELECT explode(sequence(ch_fill_t_, ch_fill_f_, ($stepE))) " +
          s"AS $col FROM (SELECT min($col) AS ch_fill_f_, " +
          s"max($col) AS ch_fill_t_ FROM ($body) ch_fill_mm_)"
      else
        s"SELECT explode(sequence(ch_fill_f_, ch_fill_t_, ($stepE))) " +
          s"AS $col FROM (SELECT min($col) AS ch_fill_f_, " +
          s"max($col) AS ch_fill_t_ FROM ($body) ch_fill_mm_)"
    val dir = if (desc) " DESC" else ""
    if (interp.isEmpty)
      return Some(s"SELECT * FROM ($axis) ch_fill_ax_ " +
        s"FULL OUTER JOIN ($body) ch_fill_src_ USING ($col) " +
        s"ORDER BY $col$dir$tail")
    // INTERPOLATE: fill rows (marker NULL) derive from the last ORIGINAL
    // row in output order; original rows keep their own values. Affine
    // forms need the fill DISTANCE (rows since that original), so a
    // row_number layer is added on demand.
    val win = s"OVER (ORDER BY $col$dir ROWS BETWEEN UNBOUNDED " +
      "PRECEDING AND CURRENT ROW)"
    def lastOrig(e: String) =
      s"last(CASE WHEN ch_fill_orig_ IS NOT NULL THEN $e END, true) $win"
    val needRn = interp.exists(_._2 == "affine")
    val kDist = s"(ch_fill_rn_ - ${lastOrig("ch_fill_rn_")})"
    val carried = interp.map { case (cn, kind, p1, p2) =>
      val fillVal = kind match {
        case "carry" => lastOrig(cn)
        case "const" => p1
        case "affine" => p1 match {
          case "+" => s"${lastOrig(cn)} + $kDist * ($p2)"
          case "-" => s"${lastOrig(cn)} - $kDist * ($p2)"
          case _ => s"${lastOrig(cn)} * pow(($p2), $kDist)"
        }
      }
      s"CASE WHEN ch_fill_orig_ IS NOT NULL THEN $cn ELSE " +
        s"$fillVal END AS $cn"
    }.mkString(", ")
    val joined = s"SELECT * FROM ($axis) ch_fill_ax_ " +
      s"FULL OUTER JOIN (SELECT *, true AS ch_fill_orig_ FROM ($body) " +
      s"ch_fill_b_) ch_fill_src_ USING ($col)"
    val (src, extraExcept) =
      if (needRn)
        (s"SELECT *, row_number() OVER (ORDER BY $col$dir) " +
          s"AS ch_fill_rn_ FROM ($joined) ch_fill_j0_", ", ch_fill_rn_")
      else (joined, "")
    Some(s"SELECT * EXCEPT (${interp.map(_._1).mkString(", ")}, " +
      s"ch_fill_orig_$extraExcept), " +
      s"$carried FROM ($src) ch_fill_j_ " +
      s"ORDER BY $col$dir$tail")
  }

  /** One INTERPOLATE item, `col` or `col AS expr`: (column, kind, payload,
    * payload2) as [[withFillAt]] reads them. */
  private def interpolateItem(item: String, fail: String => Nothing)
      : (String, String, String, String) = {
    val c = topLevel(item)
    if (!c.isWord(0) || (c.size > 1 && !(c.isWord(1, "AS") && c.size > 2)))
      fail(s"INTERPOLATE item '$item' is not `col` or `col AS expr`")
    val cn = c.text(0)
    if (c.size == 1) return (cn, "carry", "", "")
    val ex = item.substring(c.start(2)).trim
    val e = topLevel(ex)
    // `-?digits[.digits]` from token i to the end
    def decimalFrom(i: Int): Boolean = {
      val j = if (e.isSym(i, '-') && e.isNumber(i + 1) && e.adjacent(i)) i + 1 else i
      e.size == j + 1 && e.isNumber(j) && !e.text(j).exists(ch => ch == 'e' || ch == 'E')
    }
    if (ex.equalsIgnoreCase(cn)) (cn, "carry", "", "")
    else if (e.isWord(0, cn) && (e.isSym(1, '+') || e.isSym(1, '-') || e.isSym(1, '*')) &&
      decimalFrom(2))
      (cn, "affine", e.text(1), ex.substring(e.start(2)))
    else if (decimalFrom(0) || (e.size == 1 && (e.isWord(0, "NULL") ||
      (e.isQuoted(0, '\'') && e.text(0).indexOf('\'', 1) == e.text(0).length - 1))))
      (cn, "const", ex, "")
    else fail(
      s"INTERPOLATE ($cn AS $ex): only self-affine " +
        "expressions (col ± k, col * k) and constants " +
        "have a faithful closed-form rewrite; use the " +
        "windowed API shape (b_fil2) for general exprs")
  }

  // ------------------------------------------------------------- LIMIT BY

  /** Last top-level `ORDER BY` of `body`: (orderTokenStart, listStart). */
  private def lastOrderBy(body: String): Option[(Int, Int)] = {
    var res: Option[(Int, Int)] = None
    val w = new Walk(body)
    while (w.nextCode()) if (w.depth == 0 && w.isWord("ORDER")) {
      val (by, afterBy) = nextWord(body, w.end)
      if (by.equalsIgnoreCase("BY")) res = Some((w.start, skipSpace(body, afterBy)))
    }
    res
  }

  /** CH `LIMIT n [OFFSET o] BY exprs` / `LIMIT o, n BY exprs` (per-group
    * row slice; B-TOPK1) → a row_number window over the query's own
    * ORDER BY, filtered to rows o+1..o+n per group, with the ordering
    * and any trailing plain LIMIT re-applied outside. Without an ORDER
    * BY the pick is arbitrary — exactly CH's contract. The API form
    * (`LimitBy.limitBy`) is the two-phase scale shape; this textual
    * form is the compatibility path. Top-level queries only: a LIMIT BY
    * inside a subquery keeps the original (loud) parse failure. */
  private val limitByStops = Set("LIMIT", "SETTINGS", "FORMAT", "UNION", "INTERSECT", "EXCEPT")

  private def rewriteLimitBy(sql: String): String = firstSite(sql)(limitByAt).getOrElse(sql)

  private def limitByAt(w: Walk): Option[String] = {
    if (w.depth != 0 || !w.isWord("LIMIT")) return None
    val sql = w.s
    // n BY | o, n BY | n OFFSET o BY
    val c = topLevel(sql, w.end, 4)
    val (k, off, by) =
      if (c.isInt(0) && c.isWord(1, "BY")) (c.text(0).toLong, 0L, 1)
      else if (!c.isInt(0) || !c.isInt(2) || !c.isWord(3, "BY")) return None
      else if (c.isSym(1, ',')) (c.text(2).toLong, c.text(0).toLong, 3)
      else if (c.isWord(1, "OFFSET")) (c.text(0).toLong, c.text(2).toLong, 3)
      else return None
    // the grouping expressions run to the next top-level clause
    val colsStart = skipSpace(sql, c.end(by))
    val (colsEnd, _) = SqlLexer.clauseEnd(sql, colsStart, limitByStops)
    val cols = lift(sql, colsStart, colsEnd).trim
    val tail = sql.substring(colsEnd)
    val body = lift(sql, 0, w.start)
    val (bodyCore, sorts, outerOrder) = lastOrderBy(body) match {
      case Some((os, ls)) =>
        val s0 = body.substring(ls).trim
        (body.substring(0, os), s0, s"ORDER BY $s0 ")
      case None => (body, cols, "")
    }
    // ordinal sort/partition items (ORDER BY 2) are only ordinal-resolved
    // at the TOP level of a query — inside the window spec they'd become
    // constant literals and the per-group pick would turn arbitrary.
    // Keep the loud parse failure instead of a silent wrong answer.
    if (hasOrdinalItem(sorts) || hasOrdinalItem(cols)) return Some(sql)
    Some(s"SELECT * EXCEPT (ch_lb_rn_) FROM (SELECT *, " +
      s"row_number() OVER (PARTITION BY $cols ORDER BY $sorts) " +
      s"AS ch_lb_rn_ FROM ($bodyCore) ch_lb_src_) ch_lb_ " +
      s"WHERE ch_lb_rn_ BETWEEN ${off + 1} AND ${off + k} " +
      outerOrder + tail)
  }

  /** True when any top-level comma-separated item of an ORDER BY /
    * PARTITION BY list is a bare integer ordinal (optionally with
    * direction / null-placement suffixes). */
  private def hasOrdinalItem(list: String): Boolean = splitTopLevel(list).exists { it =>
    val c = topLevel(it)
    var i = 1
    if (c.isWord(i, "ASC") || c.isWord(i, "DESC")) i += 1
    if (c.isWord(i, "NULLS") && (c.isWord(i + 1, "FIRST") || c.isWord(i + 1, "LAST"))) i += 2
    c.isInt(0) && c.size == i
  }

  // ------------------------------------------------------ bracket arrays

  /** CH bracket ARRAY LITERALS (`[1, 2, 3]`, `[[1], [2]]`, `['a']` —
    * pervasive in CH SQL) → `array(...)`. Spark parses `expr[i]`
    * INDEXING but not bracket literals, so this is rescue-tier: a
    * working Spark query never reaches it, and inside the rescue the
    * only `[` that must stay is indexing. Discrimination is by the
    * preceding significant token: after an identifier that is NOT a
    * keyword, `)`, or `]`, the bracket indexes; after start-of-text,
    * `(`, `,`, an operator, a keyword (SELECT/WHERE/IN/THEN/…), or
    * another literal `[`, it opens a literal. Nested literals work via
    * the per-bracket primary stack; `[]` becomes `array()`.
    */
  private val bracketLiteralKeywords = Set(
    "SELECT", "DISTINCT", "ALL", "WHERE", "AND", "OR", "NOT", "IN", "IS",
    "WHEN", "THEN", "ELSE", "CASE", "END", "AS", "BY", "ON", "HAVING",
    "VALUES", "BETWEEN", "LIKE", "ILIKE", "ARRAY", "RETURN", "SET",
    "OVER", "PARTITION", "ROWS", "RANGE", "INTERPOLATE", "USING", "JOIN",
    "FROM", "IF", "LIMIT", "OFFSET", "TOTALS", "FILL", "TO", "STEP",
    // scalar-CTE / set-op / star-modifier positions: `WITH [1,2] AS arr`,
    // `... UNION ALL SELECT [..]`, `* EXCEPT (..)` neighborhoods — these
    // are keywords, never array bases being indexed
    "WITH", "GROUP", "UNION", "INTERSECT", "EXCEPT", "REPLACE", "APPLY",
    "PREWHERE", "QUALIFY", "SAMPLE")

  private def rewriteBracketArrays(sql: String): String = {
    if (!sql.contains('[')) return sql
    val out = new java.lang.StringBuilder(sql.length + 16)
    // A literal bracket emits `array(`; an IN-list bracket (CH `x IN
    // [1,2]` — a bracketed TUPLE) emits plain parens, since Spark's IN
    // wants `(…)` and `IN array(…)` never parses.
    // INDEX brackets rewrite to `try_element_at(base, idx)` because CH
    // indexing is 1-BASED (and negative counts from the end) while
    // Spark's bracket is 0-based — keeping the bracket would silently
    // shift every rescued CH index by one. try_element_at carries CH's
    // map lookup too; OOB/missing-key → NULL (documented deviation from
    // CH's type default, the same one arrayElement declares). The BASE
    // expression's output start is tracked (`prim` + a stack restored at
    // every close) so the wrap inserts before `arr`, `t.arr`, `f(x)`,
    // `(expr)`, a string literal, or a chained `…[i]` alike.
    var primStack = List.empty[Int]
    var prim = 0 // output index where the current primary expression starts
    // preceding significant token kind: 0 = opener/operator/start (literal
    // position), 1 = value-ish (identifier/close/quote — indexing
    // position), 2 = the keyword IN
    var prev = 0
    // whether a following '(' is a CALL on the current primary (an
    // identifier — including the callable keywords array/if/range/
    // replace — or a close) vs a grouping paren that starts its own
    var callable = false
    def popPrim(): Unit = primStack match {
      case h :: t => prim = h; primStack = t
      case Nil => ()
    }
    val w = new Walk(sql)
    while (w.next()) w.kind match {
      case SqlLexer.Space | SqlLexer.Comment => out.append(sql, w.start, w.end)
      case SqlLexer.Literal =>
        prim = out.length
        out.append(sql, w.start, w.end); prev = 1; callable = false
      case SqlLexer.Number =>
        out.append(sql, w.start, w.end); prev = 0; callable = false
      case SqlLexer.Word =>
        // a dotted continuation (t.col) keeps the chain's primary start
        if (out.isEmpty || out.charAt(out.length - 1) != '.') prim = out.length
        out.append(sql, w.start, w.end)
        val u = w.upper
        prev = if (u == "IN") 2 else if (bracketLiteralKeywords.contains(u)) 0 else 1
        callable = !bracketLiteralKeywords.contains(u) ||
          u == "ARRAY" || u == "IF" || u == "RANGE" || u == "REPLACE"
      case _ => w.char match {
        case '[' =>
          if (prev == 1) {
            // wrap the base: BASE[ → try_element_at(BASE,
            primStack = prim :: primStack
            out.insert(prim, "try_element_at(")
            out.append(", ")
          } else {
            primStack = out.length :: primStack
            prim = out.length
            out.append(if (prev == 2) "(" else "array(")
          }
          prev = 0; callable = false
        case ']' =>
          out.append(")"); popPrim(); prev = 1; callable = true
        case '(' =>
          // a call keeps the callee's primary start; grouping starts its own
          if (callable) primStack = prim :: primStack
          else { primStack = out.length :: primStack; prim = out.length }
          out.append('('); prev = 0; callable = false
        case ')' =>
          out.append(')'); popPrim(); prev = 1; callable = true
        case c =>
          out.append(c); prev = 0; callable = false
      }
    }
    out.toString
  }

  // -------------------------------------------------------------- QUALIFY

  /** CH `QUALIFY` (post-window filter, may reference SELECT aliases and
    * window expressions; ClickHouse evaluates it after the select list's
    * windows). Spark has no QUALIFY clause, so the query only reaches
    * this rescue after a guaranteed parse failure — the rewrite can
    * never touch a working Spark query. Everything before QUALIFY wraps
    * as a subquery (select aliases materialize as real columns), the
    * predicate becomes a hidden boolean projection over it (window
    * functions are legal there and see post-aggregation rows — CH's
    * evaluation order), then the outer query filters on the helper and
    * drops it:
    *
    *   SELECT ... QUALIFY p [ORDER/LIMIT tail]
    *   → SELECT * EXCEPT (ch_q_ok_) FROM (
    *       SELECT *, (p) AS ch_q_ok_ FROM (<body>) ch_q_src_) ch_q_i_
    *     WHERE ch_q_ok_ [ORDER/LIMIT tail]
    *
    * Documented deviations (both fail loudly at analysis, never
    * silently): a predicate referencing source columns the SELECT list
    * does not project (CH also resolves those against the source), and
    * a predicate using a named window from the body's WINDOW clause
    * (out of scope in the outer projection).
    */
  private def rewriteQualify(sql: String): String = firstSite(sql) { w =>
    if (w.depth != 0 || !w.isWord("QUALIFY")) None
    else {
      val predStart = skipSpace(sql, w.end)
      val (predEnd, _) = SqlLexer.clauseEnd(sql, predStart, clauseStops)
      val pred = lift(sql, predStart, predEnd).trim
      val body = lift(sql, 0, w.start).trim
      // a top-level set operator BEFORE this QUALIFY means the clause
      // binds to the union's LAST branch in CH, but wrapping `body` would
      // filter the whole union — bail to the loud parse failure instead
      // of a silently different result. (EXCEPT only counts when followed
      // by SELECT/ALL/DISTINCT — `* EXCEPT (…)` is the star modifier,
      // not a set op.)
      if (pred.isEmpty || body.isEmpty || SqlLexer.hasWord(body, "UNION", topLevel = true) ||
        SqlLexer.hasWord(body, "INTERSECT", topLevel = true) || exceptSetOp(body)) Some(sql)
      else Some(s"SELECT * EXCEPT (ch_q_ok_) FROM (SELECT *, ($pred) AS ch_q_ok_ " +
        s"FROM ($body) ch_q_src_) ch_q_i_ WHERE ch_q_ok_ " + sql.substring(predEnd))
    }
  }.getOrElse(sql)

  /** True when `EXCEPT SELECT|ALL|DISTINCT` (the set operation) appears
    * in code. */
  private def exceptSetOp(sql: String): Boolean = {
    val w = new Walk(sql)
    while (w.nextCode()) if (w.isWord("EXCEPT")) {
      val next = nextWord(sql, w.end)._1.toUpperCase(java.util.Locale.ROOT)
      if (next == "SELECT" || next == "ALL" || next == "DISTINCT") return true
    }
    false
  }

  /** CH/MySQL `LIMIT offset, count` → `LIMIT count OFFSET offset`.
    * Rescue-tier: the comma form never parses in Spark. Splices at ANY
    * nesting depth — the replacement is purely local. A trailing `BY`
    * belongs to [[rewriteLimitBy]] (which runs first in the chain), so
    * that shape is left untouched here. */
  private def rewriteLimitComma(sql: String): String = spliceAll(sql) { w =>
    lazy val c = topLevel(w.s, w.end, 4)
    if (!w.isWord("LIMIT") || !c.isInt(0) || !c.isSym(1, ',') || !c.isInt(2) || c.isWord(3, "BY"))
      None
    else Some(w.s.substring(0, w.start) + s"LIMIT ${c.text(2)} OFFSET ${c.text(0)}" +
      w.s.substring(c.end(2)))
  }

  // ------------------------------------------------ parameterized calls

  private val paramAggs = swapParam ++ Set("quantiles", "quantilesexact",
    "quantilestdigest", "uniqcombined", "uniqcombined64")

  /** The always-on call rewrites, at the word `w`: `count()`, CH's
    * 3/4-arg `transform` and `name(P)(A)` parameterized aggregates. */
  private def paramCallAt(w: Walk): Option[String] = {
    if (w.kind != SqlLexer.Word) return None
    val sql = w.s
    val lower = w.text.toLowerCase(java.util.Locale.ROOT)
    if (lower == "count") {
      // CH's zero-arg `count()` — never analyzes in Spark, so the
      // rewrite cannot touch a working query
      val j = skipSpace(sql, w.end)
      val e = if (j < sql.length && sql.charAt(j) == '(') skipSpace(sql, j + 1) else sql.length
      if (e < sql.length && sql.charAt(e) == ')')
        Some(sql.substring(0, j) + "(*" + sql.substring(e))
      else None
    } else if (lower == "transform") {
      // CH transform(x, from, to[, default]): dimension decode over
      // parallel literal arrays. Spark OWNS `transform` (the 2-arg array
      // HOF), so no registry alias is possible — but the 3/4-arg CH
      // shape only fails at ANALYSIS (wrong arity), making this
      // always-on rewrite safe: a working Spark query can never contain
      // it. Unmatched (incl. NULL under a default) maps via
      // try_element_at → coalesce, matching CH's unmatched→x /
      // unmatched→default semantics.
      parenAfter(sql, w.end).flatMap { case (inside, e) =>
        val parts = splitTopLevel(inside).map(_.trim)
        if (parts.length != 3 && parts.length != 4) None
        else {
          val x = parts(0); val from = parts(1); val to = parts(2)
          val dflt = if (parts.length == 4) parts(3) else x
          Some(sql.substring(0, w.start) +
            s"coalesce(try_element_at(map_from_arrays(($from), ($to)), ($x)), ($dflt))" +
            sql.substring(e))
        }
      }
    } else if (paramAggs.contains(lower)) {
      parenAfter(sql, w.end).flatMap { case (params, e1) =>
        parenAfter(sql, e1).map { case (args, e2) =>
          val name = w.text
          val repl =
            if (lower == "quantiles" || lower == "quantilesexact")
              s"percentile($args, array($params))"
            else if (lower == "quantilestdigest")
              s"approx_percentile($args, array($params))"
            else if (lower == "uniqcombined" || lower == "uniqcombined64") s"$name($args)"
            else s"$name($args, $params)"
          sql.substring(0, w.start) + repl + sql.substring(e2)
        }
      }
    } else None
  }

  // ------------------------------------------------ {name:Type} params

  /** CH's parameter marker `{name:Type}` — the reference's PRIMARY bind
    * spelling (`src/query.rs:71-166`, e.g. `WHERE id = {id:UInt64}`,
    * `{ids:Array(Int32)} IN`) → Spark's named marker `:name`. The type
    * annotation drops: Spark types the binding from the bound value,
    * the engine half of the same contract. `{name:Identifier}` cannot
    * become a value binding — CH substitutes identifiers CLIENT-side —
    * so it must pre-substitute through `graft.settings.Params.sql`;
    * one reaching this rewrite un-substituted fails loudly with that
    * pointer. Only markers in code rewrite; a braced form without
    * `name:Type` shape (string formatting remnants like `{table}`) is
    * left alone. */
  private def rewriteBraceParams(sql: String): String = spliceAll(sql) { w =>
    val s = w.s
    (if (w.isSym('{')) SqlLexer.braceParam(s, w.start) else None).map { p =>
      if (p.isIdentifier)
        throw new org.apache.spark.sql.AnalysisException(
          errorClass = "_LEGACY_ERROR_TEMP_3100",
          messageParameters = Map("message" ->
            (s"graft: {${p.name}:Identifier} substitutes client-side " +
              "in ClickHouse — run the statement through " +
              "graft.settings.Params.sql, which binds identifier params " +
              "into the text before value binding")))
      s.substring(0, w.start) + ":" + p.name + s.substring(p.end)
    }
  }
}
