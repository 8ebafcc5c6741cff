package graft

import java.util.regex.Pattern

import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.{Gen, Prop, Properties, Test}

import graft.functions.ParseCombinedLog

/** Differential spec for the combined-log parse (pure JVM, no Spark
  * session): on every line, `ParseCombinedLog.parse` agrees with
  * `LogRegex` under `Matcher.matches()` on match versus no match and on
  * all nine groups. ASCII lines exercise the byte scanner; lines carrying
  * `é`, U+0085 or U+2028 take the String path.
  *
  * Lines are rendered well-formed (lazy fields may be empty), then edited
  * by inserting, deleting or replacing the tokens the regex turns on: its
  * delimiters, brackets, digit runs and every `\s` char.
  */
object ParseCombinedLogScanSpec extends Properties("ParseCombinedLogScan") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(100000)

  private val pattern = Pattern.compile(ParseCombinedLog.LogRegex)

  /** The regex's nine groups, None on no match. */
  def byRegex(line: String): Option[Seq[String]] = {
    val m = pattern.matcher(line)
    if (m.matches()) Some((1 to 9).map(m.group)) else None
  }

  def byParse(line: String): Option[Seq[String]] =
    Option(ParseCombinedLog.parse(UTF8String.fromString(line)))
      .map(r => (0 until 9).map(r.getUTF8String(_).toString))

  val word: Gen[String] =
    Gen.oneOf(Gen.const("-"), Gen.nonEmptyListOf(Gen.alphaNumChar).map(_.take(8).mkString))
  val digits: Gen[String] = Gen.choose(0, 9999).map(_.toString)
  val line: Gen[String] = for {
    ip <- Gen.listOfN(4, Gen.choose(0, 255)).map(_.mkString("."))
    ident <- word; user <- word
    date <- Gen.oneOf("27/Aug/2020:10:20:53 +0800", "", "x", "01/Jan/1999:00:00:00 -0700")
    request <- Gen.oneOf("GET /forum.php?mod=viewthread&tid=9 HTTP/1.1", "", "-", "POST / HTTP/1.0")
    status <- Gen.oneOf("200", "404", "500", "408")
    bytes <- Gen.oneOf(Gen.const("-"), digits)
    referer <- Gen.oneOf("", "-", "http://x.example/a?b=c")
    ua <- Gen.oneOf("", "-", "Mozilla/5.0 (X11; Linux x86_64)", "curl/7.61.1")
  } yield s"""$ip $ident $user [$date] "$request" $status $bytes "$referer" "$ua""""

  val token: Gen[String] = Gen.frequency(
    12 -> Gen.oneOf("\"", "] \"", "\" \"", " 200 ", "[", "]", " ", "."),
    4 -> Gen.choose(1000, 9999).map(_.toString),
    4 -> Gen.oneOf("\t", "\r", "\n", "\u000B", "\f"),
    2 -> Gen.oneOf("é", "\u0085", "\u2028"))

  /** Insert a token, delete 1-4 chars, or replace 1-4 chars by a token. */
  def edit(s: String): Gen[String] = for {
    kind <- Gen.choose(0, 2)
    at <- Gen.choose(0, s.length)
    len <- Gen.choose(1, 4)
    tok <- token
  } yield kind match {
    case 0 => s.patch(at, tok, 0)
    case 1 => s.patch(at, "", len)
    case _ => s.patch(at, tok, len)
  }

  def edits(s: String, n: Int): Gen[String] =
    if (n == 0) Gen.const(s) else edit(s).flatMap(edits(_, n - 1))

  val edited: Gen[String] = for {
    base <- line
    n <- Gen.frequency(2 -> 0, 4 -> 1, 3 -> 2, 2 -> 3, 1 -> 6)
    s <- edits(base, n)
  } yield s

  /** `s` with control and non-ASCII chars as unicode escapes, for failure labels. */
  private def escaped(s: String): String =
    s.flatMap(c => if (c < ' ' || c > '~') f"\\u${c.toInt}%04x" else c.toString)

  private def agrees(s: String): Prop = {
    val want = byRegex(s)
    val got = byParse(s)
    Prop.classify(want.isDefined, "match", "no match")(
      Prop(got == want) :| s"line=${escaped(s)} regex=$want parse=$got")
  }

  property("parse == LogRegex on edited lines") = Prop.forAll(edited)(agrees)

  /** Each lazy field filled with tokens, so its closing delimiter also
    * occurs early, late or half-formed inside it and the first complete
    * occurrence must win, as under the regex's backtracking.
    */
  val soup: Gen[String] = Gen.listOf(Gen.frequency(
      8 -> Gen.oneOf("\"", "] \"", "\" \"", " 200 ", "\" 200 - \"", "[", "]", " ", "\t", "\f"),
      4 -> word, 1 -> token)).map(_.take(5).mkString)

  property("parse == LogRegex on token-filled fields") = Prop.forAll(
    for {
      head <- Gen.oneOf("1.2.3.4 a b", "10.0.0.1 - -", "1.2.3.4 - - ", "1234.1.1.1 - -", "1.2.3 - -")
      date <- soup; request <- soup; status <- Gen.oneOf("200", "20", "2000")
      bytes <- Gen.oneOf(word, soup); referer <- soup; ua <- soup
    } yield s"""$head [$date] "$request" $status $bytes "$referer" "$ua"""")(agrees)
}
