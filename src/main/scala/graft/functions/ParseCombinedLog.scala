package graft.functions

import java.util.regex.Pattern

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Single-pass Apache combined-log-line parse.
  *
  * The reference parses each line with ONE `Matcher` pass filling a 9-field
  * record (`LogParse.java:25-56`). Composing that from built-ins costs one
  * full regex execution per field (`rlike` + 9 × `regexp_extract` ≈ 10
  * passes/line) and, worse, duplicates the upstream line expression into
  * every extract when projections collapse — at sf0.01 that blew the
  * generated code past Janino's limits and forced interpreted fallback.
  *
  * This native Catalyst expression restores the reference's one-pass
  * shape: match once, emit a struct of the 9 capture groups, null on
  * no-match. Codegen emits a single static call, so the surrounding
  * projection stays inside whole-stage codegen and common-subexpression
  * elimination collapses repeated field accesses to one match per row.
  * At 100 TB this is a narrow, fully-pipelined map — no state, no shuffle.
  */
case class ParseCombinedLog(child: Expression) extends UnaryExpression
  with ExpectsInputTypes {

  // Strict: log lines are text; any other type is a caller bug better
  // surfaced at analysis time than as a runtime cast failure.
  override def inputTypes: Seq[org.apache.spark.sql.graft.ColumnBridge.AbstractType] = Seq(StringType)

  override def dataType: DataType = ParseCombinedLog.schema

  override def nullable: Boolean = true

  /** Deliberately marked non-deterministic (it is, in fact, pure): this
    * is the supported "evaluate once" barrier (same mechanism as
    * `UserDefinedFunction.asNondeterministic`). Without it, CollapseProject
    * + predicate pushdown inline one copy of the match (and of the whole
    * upstream line expression) into every consuming field/filter/agg —
    * measured 4-5 full regex passes per row on the analytics queries.
    * With it, the parse materializes once per row and consumers read
    * struct fields.
    */
  override lazy val deterministic: Boolean = false

  override def nullSafeEval(input: Any): Any =
    ParseCombinedLog.parse(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      s"""
         |${ev.value} = graft.functions.ParseCombinedLog.parse($c);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "parse_combined_log"
}

object ParseCombinedLog {

  /** Flat-group version of the reference regex (`LogParse.java:25-26`),
    * anchored, group per field (intended semantics, SURVEY.md §2.2):
    * 1 ip, 2 identity, 3 user, 4 datetime (no brackets), 5 request
    * (no quotes), 6 status, 7 bytes, 8 referer, 9 user-agent.
    *
    * The parser's specification: the String path matches it directly and
    * the byte scanner reproduces its `Matcher.matches()` result group for
    * group (checked differentially by `ParseCombinedLogScanSpec`).
    */
  val LogRegex: String =
    """^(\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}) (\S+) (\S+) \[(.+?)\] "(.*?)" (\d{3}) (\S+) "(.*?)" "(.*?)"$"""

  private val pattern: Pattern = Pattern.compile(LogRegex)

  val fieldNames: Seq[String] = Seq(
    "client_ip", "client_identity", "remote_user", "date_time",
    "request", "http_status", "bytes_sent", "referer", "user_agent")

  val schema: StructType =
    StructType(fieldNames.map(StructField(_, StringType, nullable = true)))

  /** Parse one line; null when it is not combined-format. Called from
    * both interpreted eval and generated code (static forwarder), so the
    * JIT sees a single hot method.
    *
    * ASCII lines (the overwhelmingly common case for access logs) go
    * through [[scanAscii]] over `line.getBytes` (one copy, unless the
    * string already spans a whole array), and each field is a
    * `UTF8String` view into those bytes: no regex, no per-field copy. A
    * line with any byte >= 0x80 takes the String regex path: there the
    * regex's `.`, `\S` and `\d` apply to decoded chars, not bytes. A line
    * holding `\n` or `\r` never matches: every char of a match is a
    * digit, a non-whitespace char, a delimiter or a `.`, and `.` excludes
    * both.
    */
  def parse(line: UTF8String): InternalRow = {
    val b = line.getBytes
    var i = 0
    while (i < b.length) {
      val c = b(i)
      if (c < 0) return parseString(line)
      if (c == '\n' || c == '\r') return null
      i += 1
    }
    scanAscii(b)
  }

  private def parseString(line: UTF8String): InternalRow = {
    val m = pattern.matcher(line.toString)
    if (!m.matches()) return null
    val values = new Array[Any](9)
    var i = 0
    while (i < 9) {
      values(i) = UTF8String.fromString(m.group(i + 1))
      i += 1
    }
    new GenericInternalRow(values)
  }

  private def isDigit(c: Byte): Boolean = c >= '0' && c <= '9'

  /** Java regex `\s` without UNICODE_CHARACTER_CLASS: `[ \t\n\x0B\f\r]`. */
  private def isSpace(c: Byte): Boolean =
    c == ' ' || (c >= '\t' && c <= '\r')

  /** End of the maximal non-whitespace run starting at `from`. */
  private def nonSpaceEnd(b: Array[Byte], from: Int): Int = {
    var p = from
    while (p < b.length && !isSpace(b(p))) p += 1
    p
  }

  /** First `i >= from` with `b(i), b(i+1), b(i+2) == x, y, z`, else -1. */
  private def indexOf3(b: Array[Byte], from: Int, x: Byte, y: Byte, z: Byte): Int = {
    var i = from
    val last = b.length - 3
    while (i <= last) {
      if (b(i) == x && b(i + 1) == y && b(i + 2) == z) return i
      i += 1
    }
    -1
  }

  /** End of the `" <3 digits> <non-whitespace run> "` delimiter that
    * closes the request when it starts at `q` (the index of its first
    * quote), else -1. The end is the index after the closing quote.
    */
  private def statusBytesEnd(b: Array[Byte], q: Int): Int = {
    val n = b.length
    if (q + 8 > n || b(q) != '"' || b(q + 1) != ' ' || !isDigit(b(q + 2)) ||
        !isDigit(b(q + 3)) || !isDigit(b(q + 4)) || b(q + 5) != ' ') return -1
    val e = nonSpaceEnd(b, q + 6)
    if (e == q + 6 || e + 1 >= n || b(e) != ' ' || b(e + 1) != '"') -1 else e + 2
  }

  /** [[LogRegex]] under `Matcher.matches()`, over an ASCII line with no
    * `\n` or `\r` (so the regex's `.` matches every byte); null on no
    * match.
    *
    * The fixed-width parts cannot backtrack: `\d{1,3}` before `.` or a
    * space and `\S+` before a space only match a maximal run. The three
    * lazy fields — date `(.+?)`, request `(.*?)`, referer `(.*?)` — are
    * each closed by their delimiter's FIRST occurrence: the regex would
    * fall back to a later one only if the rest of the line failed after
    * the first, but every later candidate leaves the rest a later start
    * (a later request delimiter ends past the earlier one's bytes field),
    * and the rest's success only shrinks as its start moves right. The
    * user agent runs from the referer's delimiter to the last byte, which
    * must be `"`.
    */
  private def scanAscii(b: Array[Byte]): InternalRow = {
    val n = b.length
    if (n == 0 || b(n - 1) != '"') return null
    // 1: four runs of 1-3 digits joined by '.', then a space
    var p = 0
    var k = 0
    while (k < 4) {
      val s = p
      while (p < n && isDigit(b(p))) p += 1
      if (p == s || p - s > 3 || p >= n || b(p) != (if (k < 3) '.' else ' ')) return null
      p += 1
      k += 1
    }
    val ipEnd = p - 1
    // 2, 3: maximal non-whitespace runs; then " [" opens the date
    val s2 = p
    val e2 = nonSpaceEnd(b, s2)
    if (e2 == s2 || e2 >= n || b(e2) != ' ') return null
    val s3 = e2 + 1
    val e3 = nonSpaceEnd(b, s3)
    if (e3 == s3 || e3 + 1 >= n || b(e3) != ' ' || b(e3 + 1) != '[') return null
    // 4: date (.+?) up to the first `] "` at least one byte in
    val s4 = e3 + 2
    val e4 = indexOf3(b, s4 + 1, ']', ' ', '"')
    if (e4 < 0) return null
    // 5-7: request (.*?) up to the first `" <status> <bytes> "`
    val s5 = e4 + 3
    var q = s5
    var s8 = -1
    while (s8 < 0 && q < n) {
      if (b(q) == '"') s8 = statusBytesEnd(b, q)
      if (s8 < 0) q += 1
    }
    if (s8 < 0) return null
    // 8: referer (.*?) up to the first `" "`; 9: user agent to the end
    val e8 = indexOf3(b, s8, '"', ' ', '"')
    if (e8 < 0 || e8 + 3 > n - 1) return null
    def f(from: Int, until: Int): UTF8String = UTF8String.fromBytes(b, from, until - from)
    new GenericInternalRow(Array[Any](
      f(0, ipEnd), f(s2, e2), f(s3, e3), f(s4, e4), f(s5, q),
      f(q + 2, q + 5), f(q + 6, s8 - 2), f(s8, e8), f(e8 + 3, n - 1)))
  }
}
