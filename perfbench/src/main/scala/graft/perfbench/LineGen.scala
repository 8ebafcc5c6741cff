package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, StandardCopyOption}
import java.time.LocalDateTime
import java.time.format.DateTimeFormatter
import java.util.{Locale, SplittableRandom}

/** Seeded Apache combined-log traffic for the streaming workload.
  *
  * `graft.logs.LogGen` cannot serve here: it derives the client address
  * from `user_id % 250`, so at most 250 clients exist and the per-client
  * state store does almost no work. The shares of malformed lines, empty
  * requests and statuses follow LogGen's rules, with the line number in
  * place of `event_id`; the page kinds follow the `event_type` mix of the
  * `events` table (five types, 20% each). The client population and the
  * Zipf skew have no source in the repository's data: they are guesses.
  * The seed picks the client, the page kind and the ids of every line.
  */
object LineGen {

  /** Distinct client addresses, drawn uniformly (a guess; `events` users
    * are near-uniform, but there are only 150 of them at sf0.01).
    */
  val Clients = 200000
  /** Section ids 1..24: inside the 25 `nation` keys that play the section
    * dimension (0 means "no section" to the parser).
    */
  val Sections = 24
  /** Article ids 1..1999: inside the 2000 `part` keys of the sf0.01 tables
    * that play the article dimension.
    */
  val Articles = 1999
  /** Zipf exponent over section and article ids, id 1 most popular (a
    * guess; LogGen's ids are uniform).
    */
  val ZipfS = 1.1
  /** Page kinds, drawn uniformly as the `events` types are: `view` and
    * `purchase` hit an article, `click` a section list, `signup` a page
    * with no id, `error` an ajax URL whose fid the parser must not take.
    */
  val Kinds = Array("view", "purchase", "click", "signup", "error")

  private val sectionCdf = zipfCdf(Sections)
  private val articleCdf = zipfCdf(Articles)
  private val agents = Array(
    "Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/84.0.4147.135 Safari/537.36",
    "Mozilla/5.0 (Macintosh; Intel Mac OS X 10_15_6) AppleWebKit/605.1.15 (KHTML, like Gecko) Version/13.1.2 Safari/605.1.15",
    "Mozilla/5.0 (X11; Linux x86_64; rv:79.0) Gecko/20100101 Firefox/79.0")
  private val stampFormat = DateTimeFormatter.ofPattern("dd/MMM/yyyy:HH:mm:ss", Locale.US)
  private val epoch = LocalDateTime.of(2020, 8, 27, 10, 0, 0)

  private def zipfCdf(n: Int): Array[Double] = {
    val w = (1 to n).map(k => 1.0 / math.pow(k, ZipfS))
    val total = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / total).toArray
  }

  /** 1-based id whose cumulative weight first reaches u. */
  private def draw(cdf: Array[Double], u: Double): Int = {
    val i = java.util.Arrays.binarySearch(cdf, u)
    (if (i >= 0) i else math.min(-i - 1, cdf.length - 1)) + 1
  }

  /** Chunk `index` of the stream for `seed`: `lines` newline-terminated
    * lines. Each chunk has its own generator, so any chunk can be
    * rendered alone and the same (seed, index) always gives the same bytes.
    */
  def chunk(seed: Long, index: Int, lines: Int): Array[Byte] = {
    val rng = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + index)
    val sb = new java.lang.StringBuilder(lines * 220)
    var i = 0
    while (i < lines) {
      renderLine(rng, index.toLong * lines + i, sb)
      sb.append('\n')
      i += 1
    }
    sb.toString.getBytes(UTF_8)
  }

  /** One line; `n`, the line's number in the stream, plays LogGen's
    * `event_id`: malformed when n % 97 == 0, an empty request with 408
    * when n % 89 == 0, else 404 when n % 10 == 0, 500 when n % 7 == 3 and
    * 200 otherwise; bytes "-" when n % 13 == 0.
    */
  private def renderLine(rng: SplittableRandom, n: Long, sb: java.lang.StringBuilder): Unit = {
    if (n % 97 == 0) {
      sb.append("### malformed #").append(n).append(" ###")
      return
    }
    val c = rng.nextInt(Clients)
    val kind = Kinds(rng.nextInt(Kinds.length))
    val request =
      if (n % 89 == 0) "-"
      else kind match {
        case "view" => s"GET /forum.php?mod=viewthread&tid=${draw(articleCdf, rng.nextDouble())}&extra=page%3D1 HTTP/1.1"
        case "purchase" => s"POST /forum.php?mod=viewthread&tid=${draw(articleCdf, rng.nextDouble())}&from=fav HTTP/1.1"
        case "click" => s"GET /forum.php?mod=forumdisplay&fid=${draw(sectionCdf, rng.nextDouble())} HTTP/1.1"
        case "signup" => "GET /member.php?mod=register HTTP/1.1"
        case _ => s"GET /forum.php?mod=ajax&action=checknew&fid=${draw(sectionCdf, rng.nextDouble())} HTTP/1.1"
      }
    val status =
      if (n % 89 == 0) "408" else if (n % 10 == 0) "404" else if (n % 7 == 3) "500" else "200"
    val bytes = if (n % 89 == 0 || n % 13 == 0) "-" else (200 + n % 9000).toString
    sb.append("10.").append(c >> 16).append('.').append((c >> 8) & 255).append('.').append(c & 255)
      .append(" - - [").append(stampFormat.format(epoch.plusSeconds(n / 50))).append(" +0800] \"")
      .append(request).append("\" ").append(status).append(' ').append(bytes)
      .append(" \"-\" \"").append(agents(rng.nextInt(agents.length))).append('"')
  }

  def chunkName(index: Int): String = f"chunk-$index%05d.log"

  /** Publish a chunk the way a log shipper should: write it under a
    * dot-prefixed name the file source ignores, then rename it into
    * place atomically, so a listing never sees a partial file.
    */
  def publish(dir: Path, index: Int, bytes: Array[Byte]): Path = {
    val tmp = dir.resolve("." + chunkName(index) + ".tmp")
    Files.write(tmp, bytes)
    Files.move(tmp, dir.resolve(chunkName(index)), StandardCopyOption.ATOMIC_MOVE)
  }
}
