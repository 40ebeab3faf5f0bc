package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.parser.{ParameterContext, ParserInterface}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.types.{DataType, StructType}
import org.scalatest.funsuite.AnyFunSuite

/** The dialect's golden corpus: every text that `ChDialectSpec`,
  * `SettingsSpec` and the `b_sql*` declared queries hand the session
  * parser, with what `ChSqlRewrite(x)` and `ChSqlRewrite.rescue(x)` made
  * of it when the corpus was collected. Any change to a rewrite's output
  * shows here as a diff; TESTDATA.md says when the corpus may be
  * re-collected ([[ChSqlGolden.main]]). */
class ChSqlGoldenSpec extends AnyFunSuite {

  test("every corpus text rewrites as recorded") {
    val lines = ChSqlGolden.load()
    assert(lines.size > 1000)
    ChSqlGolden.registerKeys()
    val diffs = lines.flatMap { line =>
      val text = ChSqlGolden.unescape(line.takeWhile(_ != '\t'))
      val now = ChSqlGolden.record(text)
      if (now == line) None else Some(s"recorded: $line\n     now: $now")
    }
    if (diffs.nonEmpty)
      fail(s"${diffs.size} of ${lines.size} texts differ:\n" + diffs.take(10).mkString("\n"))
  }
}

/** Records every text the session parser is handed: the outermost parser
  * when this extension is listed after `graft.GraftExtensions`. */
class ChSqlGoldenRecorder extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    ext.injectParser((_, p) => new ChSqlGolden.Recording(p))
}

/** The corpus format and its collector.
  *
  * One line per distinct text, in the order the collecting run first met
  * it: four tab-separated fields — the text, `ChSqlRewrite(text)`,
  * `rescue(text).sql` and `rescue(text).settings` as `k=v, …`. Fields
  * escape `\`, tab, newline and carriage return with a backslash; an
  * output equal to the text is `\=`, a rescue equal to the always-on
  * output is `\^`, and a thrown error is `\!` and its class name. */
object ChSqlGolden {
  val resource = "/graft/functions/chsql_golden.tsv"

  /** The sampling and FINAL keys the collecting specs register (CREATE
    * TABLE texts in the corpus register their own when rescued). */
  def registerKeys(): Unit = {
    ChSqlRewrite.registerSampleKey("chsmpl", "id")
    ChSqlRewrite.registerFinalKey("chfin", "id, kind", "ver DESC")
    ChSqlRewrite.registerSampleKey("orders_smp_v", "o_orderkey")
    ChSqlRewrite.registerFinalKey("events_fin_v", "user_id, event_type", "ts DESC, event_id DESC")
  }

  def escape(s: String): String = {
    val sb = new java.lang.StringBuilder(s.length)
    s.foreach {
      case '\\' => sb.append("\\\\")
      case '\t' => sb.append("\\t")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case c => sb.append(c)
    }
    sb.toString
  }

  def unescape(s: String): String = {
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\\' && i + 1 < s.length) {
        sb.append(s.charAt(i + 1) match {
          case 't' => '\t'
          case 'n' => '\n'
          case 'r' => '\r'
          case d => d
        })
        i += 2
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  private def attempt[A](f: => A): Either[String, A] =
    try Right(f) catch { case e: Exception => Left("\\!" + e.getClass.getSimpleName) }

  /** The corpus line for `text` under the rewrites on the classpath. */
  def record(text: String): String = {
    val safe = attempt(ChSqlRewrite(text))
    val rescued = attempt(ChSqlRewrite.rescue(text))
    def field(out: String) =
      if (out == text) "\\=" else if (safe.contains(out)) "\\^" else escape(out)
    Seq(
      escape(text),
      safe.fold(identity, out => if (out == text) "\\=" else escape(out)),
      rescued.fold(identity, r => field(r.sql)),
      rescued.fold(_ => "", _.settings.map { case (k, v) => escape(k) + "=" + escape(v) }
        .mkString(", "))).mkString("\t")
  }

  def load(): Seq[String] = {
    val in = getClass.getResourceAsStream(resource)
    require(in != null, s"missing test resource $resource")
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toVector
    finally in.close()
  }

  private val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()

  /** Passes every call through, noting the texts `ChSqlParser` rewrites. */
  final class Recording(delegate: ParserInterface) extends ParserInterface {
    private def note(s: String): String = { seen.add(s); s }
    override def parsePlan(s: String): LogicalPlan = delegate.parsePlan(note(s))
    override def parsePlanWithParameters(s: String, p: ParameterContext): LogicalPlan =
      delegate.parsePlanWithParameters(note(s), p)
    override def parseQuery(s: String): LogicalPlan = delegate.parseQuery(note(s))
    override def parseExpression(s: String): Expression = delegate.parseExpression(note(s))
    override def parseTableIdentifier(s: String): TableIdentifier = delegate.parseTableIdentifier(s)
    override def parseFunctionIdentifier(s: String): FunctionIdentifier =
      delegate.parseFunctionIdentifier(s)
    override def parseMultipartIdentifier(s: String): Seq[String] =
      delegate.parseMultipartIdentifier(s)
    override def parseTableSchema(s: String): StructType = delegate.parseTableSchema(s)
    override def parseDataType(s: String): DataType = delegate.parseDataType(s)
    override def parseRoutineParam(s: String): StructType = delegate.parseRoutineParam(s)
  }

  /** Collects the corpus into `args(0)`: runs `ChDialectSpec`,
    * `SettingsSpec` and the `b_sql*` queries at sf0.001 on a session
    * whose outermost parser records its texts, then writes one line per
    * distinct text through [[record]]. Run from the repo root:
    * `sbt "Test/runMain graft.functions.ChSqlGolden src/test/resources/graft/functions/chsql_golden.tsv"`. */
  def main(args: Array[String]): Unit = {
    require(args.length == 1, "usage: ChSqlGolden <output.tsv>")
    val spark = graft.Sessions.withGraftConfs(
      org.apache.spark.sql.SparkSession.builder()
        .master("local[4]")
        .config("spark.sql.shuffle.partitions", "4"))
      .config("spark.sql.extensions", "graft.GraftExtensions,graft.functions.ChSqlGoldenRecorder")
      .getOrCreate()
    require(graft.SparkTestSession.spark eq spark)
    new ChDialectSpec().execute(color = false)
    new graft.settings.SettingsSpec().execute(color = false)
    val sf0001 = new graft.SparkSpec {}.sf0001
    graft.SparkEntry.allDefs.filter(_.name.startsWith("b_sql"))
      .foreach(q => q.build(spark, sf0001).count())
    val texts = scala.jdk.CollectionConverters.IteratorHasAsScala(seen.iterator()).asScala
      .toVector.distinct
    registerKeys()
    val out = new java.io.PrintWriter(args(0), "UTF-8")
    try texts.foreach(t => out.println(record(t))) finally out.close()
    println(s"[golden] ${texts.size} texts -> ${args(0)}")
    spark.stop()
    System.exit(0)
  }
}
